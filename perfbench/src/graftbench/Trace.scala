package graftbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.graftshim.ListenerBridge
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Execution counters from the listener bus: work done (jobs, stages,
  * tasks, bytes), time busy (task run and CPU time), and time waited
  * (task launch delay after stage submission, GC). */
final class Counters extends SparkListener {
  private val names = Seq("jobs", "stages", "tasks", "task_run_ms", "task_cpu_ns",
    "gc_ms", "launch_wait_ms", "shuffle_write_bytes", "shuffle_read_bytes",
    "spill_bytes", "input_bytes", "input_rows")
  private val c: Map[String, AtomicLong] = names.map(_ -> new AtomicLong).toMap
  private val peakTaskMem = new AtomicLong
  private val submitted = new ConcurrentHashMap[(Int, Int), java.lang.Long]

  override def onJobStart(e: SparkListenerJobStart): Unit = c("jobs").incrementAndGet()

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    c("stages").incrementAndGet()
    e.stageInfo.submissionTime.foreach(t =>
      submitted.put((e.stageInfo.stageId, e.stageInfo.attemptNumber()), t))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    submitted.remove((e.stageInfo.stageId, e.stageInfo.attemptNumber()))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    c("tasks").incrementAndGet()
    Option(submitted.get((e.stageId, e.stageAttemptId))).foreach(t =>
      c("launch_wait_ms").addAndGet(Math.max(0L, e.taskInfo.launchTime - t)))
    val m = e.taskMetrics
    if (m != null) {
      c("task_run_ms").addAndGet(m.executorRunTime)
      c("task_cpu_ns").addAndGet(m.executorCpuTime)
      c("gc_ms").addAndGet(m.jvmGCTime)
      c("shuffle_write_bytes").addAndGet(m.shuffleWriteMetrics.bytesWritten)
      c("shuffle_read_bytes").addAndGet(m.shuffleReadMetrics.totalBytesRead)
      c("spill_bytes").addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      c("input_bytes").addAndGet(m.inputMetrics.bytesRead)
      c("input_rows").addAndGet(m.inputMetrics.recordsRead)
      peakTaskMem.accumulateAndGet(m.peakExecutionMemory, Math.max)
    }
  }

  /** Current totals; `peak_task_mem_bytes` is the peak since the last
    * snapshot. */
  def snapshot(): Map[String, Long] =
    c.view.mapValues(_.get).toMap + ("peak_task_mem_bytes" -> peakTaskMem.getAndSet(0L))
}

/** One span: a layer call made by one request. `parent` is -1 for a
  * request's root span. `attrs` holds the listener-count deltas taken
  * at the span's boundaries plus anything the caller adds. */
final case class Span(id: Int, parent: Int, req: Int, kind: String, name: String,
                      startNs: Long, endNs: Long, attrs: Map[String, Double]) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** A request as the tracer sees it: `rootId` is its root span's id
  * when it is traced. */
final class Request(val id: Int, val kind: String, val traced: Boolean, val rootId: Int)

/** Spans recorded from the benchmark's side of each layer boundary.
  * A request that is not traced only runs its bodies. A traced one
  * drains the listener bus at each boundary, so the counts land in the
  * span that caused them. Spans stay in memory until [[writeJsonl]]. */
final class Tracer(spark: SparkSession, enabled: Boolean) {
  val spans = ArrayBuffer.empty[Span]
  private val counters = new Counters
  private var nextId = 0
  private var nextReq = 0
  if (enabled) spark.sparkContext.addSparkListener(counters)

  private def counts(): Map[String, Long] = {
    ListenerBridge.flush(spark.sparkContext)
    counters.snapshot() + ("manifest_parses" -> graft.sources.StoreManifest.tmParses)
  }

  private def record[A](req: Int, kind: String, parent: Int, name: String)
                       (body: Int => A): A = {
    val id = nextId
    nextId += 1
    val c0 = counts()
    val t0 = System.nanoTime()
    val out = body(id)
    val t1 = System.nanoTime()
    val c1 = counts()
    val delta = c1.map { case (k, v) =>
      k -> (if (k == "peak_task_mem_bytes") v else v - c0(k)).toDouble }
    spans += Span(id, parent, req, kind, name, t0, t1, delta)
    out
  }

  /** A request: the root span of its children. */
  def request[A](kind: String, traced: Boolean)(body: Request => A): A = {
    require(enabled || !traced, "tracing was not enabled for this run")
    val reqId = nextReq
    nextReq += 1
    if (!traced) body(new Request(reqId, kind, false, -1))
    else record(reqId, kind, -1, "request")(id => body(new Request(reqId, kind, true, id)))
  }

  /** A child span of `r` around one layer call. */
  def span[A](r: Request, name: String)(body: => A): A =
    if (!r.traced) body else record(r.id, r.kind, r.rootId, name)(_ => body)

  /** Attach attributes to the most recent span named `name` of `r`. */
  def annotate(r: Request, name: String, attrs: (String, Double)*): Unit =
    if (r.traced) {
      val i = spans.lastIndexWhere(s => s.req == r.id && s.name == name)
      if (i >= 0) spans(i) = spans(i).copy(attrs = spans(i).attrs ++ attrs)
    }

  /** Self time of every span: its duration minus what its children
    * cover (children of one request run one after another). */
  def selfMs: Map[Int, Double] = {
    val childMs = spans.filter(_.parent >= 0).groupBy(_.parent).view
      .mapValues(_.map(_.ms).sum).toMap
    spans.map(s => s.id -> (s.ms - childMs.getOrElse(s.id, 0.0))).toMap
  }

  def writeJsonl(path: String): Unit = {
    val self = selfMs
    val base = if (spans.isEmpty) 0L else spans.map(_.startNs).min
    val w = new java.io.PrintWriter(path, "UTF-8")
    try spans.sortBy(_.id).foreach { s =>
      val attrs = s.attrs.toSeq.sortBy(_._1).map { case (k, v) => s""""$k":${Json.num(v)}""" }
      w.println((Seq(s""""id":${s.id}""", s""""parent":${s.parent}""", s""""req":${s.req}""",
        s""""kind":${Json.str(s.kind)}""", s""""name":${Json.str(s.name)}""",
        s""""start_ms":${Json.num((s.startNs - base) / 1e6)}""",
        s""""dur_ms":${Json.num(s.ms)}""", s""""self_ms":${Json.num(self(s.id))}""") ++ attrs)
        .mkString("{", ",", "}"))
    } finally w.close()
  }
}

object Json {
  def str(s: String): String = graft.Util.jsonEscape(s)
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == Math.rint(d) && Math.abs(d) < 1e15) d.toLong.toString
    else d.toString
}
