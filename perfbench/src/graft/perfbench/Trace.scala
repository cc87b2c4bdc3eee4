package graft.perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval at a boundary the benchmark controls. `kind` is the
  * span level: "workload", "op" (one query / DAG run / churn step / stream
  * batch) or a layer call ("builder", "source", "action", "pipeline",
  * "commit", "read_build", "maintain", "sink_run", "views").
  */
final class Span(val id: Long, val parent: Long, val kind: String, val name: String,
                 val startNs: Long, val startMs: Long) {
  var endNs: Long = -1L
  var endMs: Long = -1L
  def ms: Double = (endNs - startNs) / 1e6
}

/** In-memory span recorder. Disabled (untraced runs and units), `span` only runs
  * its body. Enabled, every span also becomes the thread's Spark local
  * property `graft.bench.span` (and an op span the job group and
  * `graft.bench.op`), so the jobs a call launches — including those of a
  * streaming query started inside it — carry the span that caused them.
  */
object Trace {
  val SpanKey = "graft.bench.span"
  val OpKey = "graft.bench.op"

  @volatile var enabled = false
  private val recorded = ArrayBuffer.empty[Span]
  private val nextId = new java.util.concurrent.atomic.AtomicLong(1L)
  // the open spans of this thread, innermost first; a thread started inside
  // a span (Pipeline.runAll's arm pool) inherits its creator's open spans
  private val open = new InheritableThreadLocal[List[Span]] {
    override def initialValue(): List[Span] = Nil
  }
  @volatile private var sc: SparkContext = _

  def attach(spark: SparkSession): Unit = sc = spark.sparkContext
  def spans: Seq[Span] = recorded.synchronized(recorded.toSeq)

  def span[T](kind: String, name: String)(body: => T): T =
    if (!enabled) body
    else {
      val stack = open.get
      val s = new Span(nextId.getAndIncrement(), stack.headOption.map(_.id).getOrElse(0L),
        kind, name, System.nanoTime(), System.currentTimeMillis())
      recorded.synchronized(recorded += s)
      open.set(s :: stack)
      val prevSpan = sc.getLocalProperty(SpanKey)
      val prevOp = sc.getLocalProperty(OpKey)
      sc.setLocalProperty(SpanKey, s.id.toString)
      if (kind == "op") {
        sc.setLocalProperty(OpKey, s.id.toString)
        sc.setJobGroup(s"bench-span-${s.id}", name, interruptOnCancel = false)
      }
      try body
      finally {
        s.endNs = System.nanoTime()
        s.endMs = System.currentTimeMillis()
        open.set(stack)
        sc.setLocalProperty(SpanKey, prevSpan)
        if (kind == "op") {
          sc.clearJobGroup()
          sc.setLocalProperty(OpKey, prevOp)
        }
      }
    }

  /** Self time per span: its duration minus its children's durations
    * (children running in parallel threads can make it negative).
    */
  def selfMs(all: Seq[Span]): Map[Long, Double] = {
    val childMs = all.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.ms).sum }
    all.map(s => s.id -> (s.ms - childMs.getOrElse(s.id, 0.0))).toMap
  }
}

/** Per-job totals from task-end events. */
final class JobRec(val jobId: Int, val op: Long, val span: Long, val startMs: Long) {
  var endMs: Long = -1L
  var stages = 0
  var tasks = 0
  var failedTasks = 0
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var deserMs = 0L
  var maxTaskMs = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var inputBytes = 0L
  var inputRows = 0L
  var scanTasks = 0
}

/** Catalyst phase times of one query execution, from `qe.tracker`. */
final case class QeRec(atMs: Long, analysisMs: Long, optimizationMs: Long, planningMs: Long)

/** The ledger's Spark-side collectors: a SparkListener reading job, stage
  * and task-end events (keyed by the span properties the jobs carry) and
  * a QueryExecutionListener reading each execution's phase times.
  * Registered only in the traced run.
  */
final class Ledger extends SparkListener with QueryExecutionListener {
  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  val qes = ArrayBuffer.empty[QeRec]

  private def prop(p: java.util.Properties, k: String): Long =
    Option(p).flatMap(x => Option(x.getProperty(k))).map(_.toLong).getOrElse(0L)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val j = new JobRec(e.jobId, prop(e.properties, Trace.OpKey),
      prop(e.properties, Trace.SpanKey), e.time)
    j.stages = e.stageIds.size
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
    jobs(e.jobId) = j
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (jid <- stageJob.get(e.stageId); j <- jobs.get(jid)) {
      j.tasks += 1
      if (!e.reason.isInstanceOf[org.apache.spark.Success.type]) j.failedTasks += 1
      j.maxTaskMs = math.max(j.maxTaskMs, e.taskInfo.duration)
      val m = e.taskMetrics
      if (m != null) {
        j.runMs += m.executorRunTime
        j.cpuNs += m.executorCpuTime
        j.gcMs += m.jvmGCTime
        j.deserMs += m.executorDeserializeTime
        j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        j.inputBytes += m.inputMetrics.bytesRead
        j.inputRows += m.inputMetrics.recordsRead
        if (m.inputMetrics.bytesRead > 0 || m.inputMetrics.recordsRead > 0) j.scanTasks += 1
      }
    }
  }

  private def record(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases
    def d(k: String) = ph.get(k).map(_.durationMs).getOrElse(0L)
    val at = ph.get("planning").orElse(ph.get("analysis")).map(_.startTimeMs)
      .getOrElse(System.currentTimeMillis())
    synchronized { qes += QeRec(at, d("analysis"), d("optimization"), d("planning")) }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)

  def register(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def unregister(spark: SparkSession): Unit = {
    org.apache.spark.graftbench.BusDrain.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }
}
