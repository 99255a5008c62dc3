package graftbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange

/** Command-line options the run script passes to the JVM. */
final case class Opts(workload: String = "", seed: Long = 1L, seconds: Int = 0,
                      trace: Boolean = false, work: String = "", out: String = "",
                      traceOut: String = "", expected: String = "", mode: String = "run")

/** One timed request of a closed loop. `group` is the dashboard kind
  * or the analytics operator family. */
final case class Sample(group: String, ms: Double, ok: Boolean, traced: Boolean)

/** What a workload hands back for the metric report. */
final case class Measured(setupMs: Seq[Double], samples: Seq[Sample], loopSec: Double,
                          cpuMs: Double, attempted: Int, failed: Int,
                          extra: Map[String, Double])

object Harness {

  /** Requests per run: enough for [[Stats.percentile]] to support p75. */
  val MinRequests = 40

  def cpuMs(): Double = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e6

  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  private val started = System.nanoTime()

  /** A progress line on stderr, stamped with seconds since start. */
  def log(msg: String): Unit =
    System.err.println(f"[perfbench] ${(System.nanoTime() - started) / 1e9}%6.1f s $msg")

  /** Milliseconds a fixed single-threaded integer loop takes now: the
    * median of five repeats. It reads no graft code; it shows how fast
    * the host ran during a run, so that a slow run can be told apart
    * from a slow program. */
  def hostRefMs(): Double = Stats.median((1 to 5).map { _ =>
    val t0 = System.nanoTime()
    var x = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < 20000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    if (x == 42L) System.err.print("")
    (System.nanoTime() - t0) / 1e6
  })

  def time[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val out = body
    (out, (System.nanoTime() - t0) / 1e6)
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  /** Bytes and data files under a directory. */
  def du(f: File): (Long, Long) =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(du)
      .foldLeft((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }
    else if (f.getName.endsWith(".parquet")) (f.length(), 1L)
    else (f.length(), 0L)

  /** Run `setup` `n` times, each into a fresh directory, timing each.
    * Every directory but the last is deleted; the last is returned. */
  def setups(root: String, n: Int)(setup: String => Unit): (String, Seq[Double]) = {
    val times = (1 to n).map { k =>
      val dir = s"$root/setup-$k"
      val (_, ms) = time(setup(dir))
      if (k < n) deleteTree(new File(dir))
      ms
    }
    (s"$root/setup-$n", times)
  }

  /** Build, plan and execute one request's frame inside `r`'s spans,
    * returning the result fingerprint. Untraced, the phases run as one
    * action would run them. */
  def execute(tr: Tracer, r: Request, build: => DataFrame): Fp = {
    val df = tr.span(r, "build")(build)
    if (r.traced) {
      tr.span(r, "optimize")(df.queryExecution.optimizedPlan)
      tr.span(r, "physical")(df.queryExecution.executedPlan)
    }
    val fp = tr.span(r, "execute")(Fp.run(df))
    if (r.traced) tr.annotate(r, "execute", "exchanges" -> exchanges(df).toDouble)
    fp
  }

  /** Exchange nodes in the executed (final adaptive) plan. */
  def exchanges(df: DataFrame): Int = {
    val h = new AdaptiveSparkPlanHelper {}
    h.collectWithSubqueries(df.queryExecution.executedPlan) { case e: Exchange => e }.size
  }

  /** The closed loop: one client, whole passes over `pool` (reshuffled
    * per pass from the seed) until `seconds` have passed and at least
    * [[MinRequests]] requests completed. With tracing on, every request
    * runs twice back to back, untraced and traced in alternating order,
    * so the tracing overhead is measured on the same requests. */
  def loop[R](o: Opts, pool: IndexedSeq[R])
             (one: (R, Boolean) => (String, Boolean)): (Seq[Sample], Double, Double) = {
    val rnd = new scala.util.Random(o.seed)
    val out = ArrayBuffer.empty[Sample]
    val cpu0 = cpuMs()
    val (jit0, gc0) = (jitMs(), gcMs())
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    var i = 0
    while (elapsed < o.seconds || out.count(!_.traced) < MinRequests) {
      rnd.shuffle(pool).foreach { req =>
        val order = if (o.trace) (if (i % 2 == 0) Seq(false, true) else Seq(true, false))
                    else Seq(false)
        order.foreach { traced =>
          val ((group, ok), ms) = time(one(req, traced))
          out += Sample(group, ms, ok, traced)
        }
        i += 1
      }
      log(f"pass: JIT ${jitMs() - jit0}%.0f ms, cpu ${cpuMs() - cpu0}%.0f ms")
    }
    log(f"loop: ${out.size} requests, JIT ${jitMs() - jit0}%.0f ms, GC ${gcMs() - gc0}%.0f ms")
    (out.toSeq, elapsed, cpuMs() - cpu0)
  }

  def jitMs(): Double = ManagementFactory.getCompilationMXBean.getTotalCompilationTime.toDouble

  def gcMs(): Double = {
    import scala.jdk.CollectionConverters._
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum.toDouble
  }
}
