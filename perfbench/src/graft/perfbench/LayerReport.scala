package graft.perfbench

import scala.collection.immutable.ListMap

/** Turns the traced units' spans and ledger records into the per-layer
  * metrics (workload aggregates, per op where the figure is additive) and
  * the detail ledger: per op name (each query of query_mix) and per
  * pipeline stage (etl_dag), plus every span name's self time. The DAG's
  * arms run in parallel, so its stage times are sums over the arms.
  *
  * @param tracedLat   op latencies of the traced units, seconds
  * @param untracedLat op latencies of the untraced units, seconds
  * @param gcMs        JVM collection time during the traced units
  */
final class LayerReport(spans: Seq[Span], led: Ledger, cores: Int,
                        tracedLat: Seq[Double], untracedLat: Seq[Double], gcMs: Long) {
  private val ops = spans.filter(_.kind == "op")
  private val nOps = math.max(1, ops.size)
  private val byId = spans.map(s => s.id -> s).toMap
  private val selfMs = Trace.selfMs(spans)
  private val jobs = led.synchronized(led.jobs.values.filter(_.op != 0).toSeq)
  private val qes = led.synchronized(led.qes.toSeq)
  private def kindOf(spanId: Long) = byId.get(spanId).map(_.kind).getOrElse("")
  /** The op span a span belongs to (0 outside any op). */
  private def opOf(s: Span): Long =
    if (s.kind == "op") s.id else byId.get(s.parent).map(opOf).getOrElse(0L)
  private def ms(kind: String) = spans.filter(_.kind == kind).map(_.ms).sum
  private def perOp(x: Double) = x / nOps
  private def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  private val eager = jobs.filter(j => Set("builder", "source")(kindOf(j.span)))
  private def jobMs(js: Seq[JobRec]) = js.map(j => math.max(0L, j.endMs - j.startMs)).sum.toDouble
  private val runS = jobs.map(_.runMs).sum / 1e3
  private val wallS = ops.map(_.ms).sum / 1e3

  /** Pipeline parts per DAG run: extract / transform / gate / load / wait. */
  private val pipelineParts: Seq[Map[String, Double]] =
    spans.filter(s => s.kind == "pipeline").map { run =>
      val kids = spans.filter(_.parent == run.id).sortBy(_.startNs)
      val arms = kids.map(_.name.split(":").head).distinct
      val parts = arms.map { arm =>
        val mine = kids.filter(_.name.startsWith(arm + ":"))
        val extract = mine.filter(_.kind == "source").map(_.ms).sum
        val transform = mine.filter(_.kind == "builder").map(_.ms).sum
        val load = mine.filter(_.kind == "commit")
        val lastBuild = mine.filter(s => s.kind != "commit").map(_.endNs).max
        val gate = load.headOption.map(l => (l.startNs - lastBuild) / 1e6).getOrElse(0.0)
        (extract, transform, gate, load.map(_.ms).sum)
      }
      val e = parts.map(_._1).sum; val t = parts.map(_._2).sum
      val g = parts.map(_._3).sum; val l = parts.map(_._4).sum
      // arms run in parallel: the wait is what follows the last load
      val lastLoad = kids.filter(_.kind == "commit").map(_.endNs)
      Map("extract" -> e, "transform" -> t, "gate" -> g, "load" -> l,
        "observe_wait" -> (if (lastLoad.isEmpty) 0.0 else (run.endNs - lastLoad.max) / 1e6),
        "views" -> spans.filter(s => s.kind == "views" && s.parent == run.parent).map(_.ms).sum)
    }
  private def pipe(k: String) = mean(pipelineParts.map(_(k)))

  def metrics: ListMap[String, Any] = ListMap(
    "sources.build_ms" -> perOp(ms("source")),
    "sources.input_bytes" -> perOp(jobs.map(_.inputBytes).sum.toDouble),
    "sources.input_rows" -> perOp(jobs.map(_.inputRows).sum.toDouble),
    "sources.scan_tasks" -> perOp(jobs.map(_.scanTasks).sum.toDouble),
    "operators.build_ms" -> perOp(ms("builder")),
    "operators.eager_jobs" -> perOp(eager.size.toDouble),
    "operators.eager_ms" -> perOp(jobMs(eager)),
    "plan.analysis_ms" -> perOp(qes.map(_.analysisMs).sum.toDouble),
    "plan.optimization_ms" -> perOp(qes.map(_.optimizationMs).sum.toDouble),
    "plan.planning_ms" -> perOp(qes.map(_.planningMs).sum.toDouble),
    "plan.executions" -> perOp(qes.size.toDouble),
    "exec.jobs" -> perOp(jobs.size.toDouble),
    "exec.stages" -> perOp(jobs.map(_.stages).sum.toDouble),
    "exec.tasks" -> perOp(jobs.map(_.tasks).sum.toDouble),
    "exec.deser_ms" -> perOp(jobs.map(_.deserMs).sum.toDouble),
    "exec.run_s" -> perOp(runS),
    "exec.cpu_s" -> perOp(jobs.map(_.cpuNs).sum / 1e9),
    "exec.gc_s" -> perOp(jobs.map(_.gcMs).sum / 1e3),
    "exec.max_task_ms" -> (if (jobs.isEmpty) 0L else jobs.map(_.maxTaskMs).max).toDouble,
    "exec.core_busy" -> (if (wallS > 0) runS / (wallS * cores) else 0.0),
    "exec.shuffle_read_bytes" -> perOp(jobs.map(_.shuffleRead).sum.toDouble),
    "exec.shuffle_write_bytes" -> perOp(jobs.map(_.shuffleWrite).sum.toDouble),
    "exec.spill_bytes" -> perOp(jobs.map(_.spill).sum.toDouble),
    "exec.failed_tasks" -> jobs.map(_.failedTasks).sum.toDouble,
    "pipeline.extract_ms" -> pipe("extract"),
    "pipeline.transform_ms" -> pipe("transform"),
    "pipeline.gate_ms" -> pipe("gate"),
    "pipeline.load_ms" -> pipe("load"),
    "pipeline.observe_wait_ms" -> pipe("observe_wait"),
    "pipeline.views_ms" -> pipe("views"),
    "sinks.commit_ms" -> perOp(ms("commit")),
    "sinks.commit_jobs" -> perOp(jobs.count(j => kindOf(j.span) == "commit").toDouble),
    "sinks.read_build_ms" -> perOp(ms("read_build")),
    "streaming.batch_ms" -> mean(spans.filter(_.kind == "sink_run").map(_.ms)),
    "jvm.gc_ms" -> perOp(gcMs.toDouble),
    "trace.overhead_ms" -> (Stats.median(tracedLat) - Stats.median(untracedLat)) * 1e3)

  /** Per op name: count, median latency and what its calls cost inside. */
  def ledger: ListMap[String, Any] = {
    val jobsByOp = jobs.groupBy(_.op)
    val perOpName = ops.groupBy(_.name).toSeq.sortBy(_._1).map { case (n, os) =>
      val js = os.flatMap(o => jobsByOp.getOrElse(o.id, Nil))
      val ids = os.map(_.id).toSet
      val qs = qes.filter(q => os.exists(o => q.atMs >= o.startMs && q.atMs <= o.endMs))
      n -> Json.obj(
        "n" -> os.size,
        "median_ms" -> Stats.median(os.map(_.ms)),
        "builder_ms" -> spans.filter(s => s.kind == "builder" && ids(opOf(s))).map(_.ms).sum / os.size,
        "eager_jobs" -> js.count(j => Set("builder", "source")(kindOf(j.span))).toDouble / os.size,
        "jobs" -> js.size.toDouble / os.size,
        "stages" -> js.map(_.stages).sum.toDouble / os.size,
        "tasks" -> js.map(_.tasks).sum.toDouble / os.size,
        "cpu_s" -> js.map(_.cpuNs).sum / 1e9 / os.size,
        "max_task_ms" -> (if (js.isEmpty) 0L else js.map(_.maxTaskMs).max),
        "plan_ms" -> qs.map(q => q.analysisMs + q.optimizationMs + q.planningMs).sum.toDouble / os.size)
    }
    val self = spans.groupBy(s => s"${s.kind}/${s.name}").toSeq.sortBy(_._1).map { case (k, ss) =>
      k -> Json.obj("n" -> ss.size, "self_ms" -> ss.map(s => selfMs(s.id)).sum / ss.size,
        "total_ms" -> ss.map(_.ms).sum / ss.size)
    }
    val stages = if (pipelineParts.isEmpty) ListMap.empty[String, Any]
      else ListMap(Seq("extract", "transform", "gate", "load", "observe_wait", "views")
        .map(k => k -> pipe(k)): _*)
    Json.obj("per_op" -> ListMap(perOpName: _*), "pipeline_stages_ms" -> stages,
      "span_self_time" -> ListMap(self: _*))
  }
}
