package graftbench

import org.apache.spark.sql.SparkSession

import graft.GraftExtensions

/** The benchmark's JVM side. `perfbench/run.py` builds it, runs it with
  * a work directory inside the checkout, and prints its result. */
object Main {

  def parse(args: Array[String]): Opts =
    args.grouped(2).foldLeft(Opts()) {
      case (o, Array("--workload", v)) => o.copy(workload = v)
      case (o, Array("--seed", v)) => o.copy(seed = v.toLong)
      case (o, Array("--seconds", v)) => o.copy(seconds = v.toInt)
      case (o, Array("--trace", v)) => o.copy(trace = v == "1")
      case (o, Array("--work", v)) => o.copy(work = v)
      case (o, Array("--out", v)) => o.copy(out = v)
      case (o, Array("--trace-out", v)) => o.copy(traceOut = v)
      case (o, Array("--expected", v)) => o.copy(expected = v)
      case (o, Array("--mode", v)) => o.copy(mode = v)
      case (_, a) => throw new IllegalArgumentException(s"bad arguments: ${a.mkString(" ")}")
    }

  val Workloads: Map[String, (SparkSession, Opts, Tracer) => Measured] = Map(
    "tsdb_dashboard" -> Dashboard.run,
    "analytics" -> Analytics.run)

  /** The session of graft's Bench main (same confs), on every core of
    * the host, with all scratch space under the run's work directory. */
  def session(work: String, cores: Int): SparkSession = {
    val s = SparkSession.builder().master(s"local[$cores]")
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.graft.wideMoments", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    if (o.mode == "selftest") { SelfTest.run(); return }
    require(o.seconds > 0, "--seconds must be a positive number of seconds")
    val run = Workloads.getOrElse(o.workload,
      throw new IllegalArgumentException(s"unknown workload '${o.workload}'; " +
        s"known: ${Workloads.keys.toSeq.sorted.mkString(", ")}"))
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = session(o.work, cores)
    try {
      val tr = new Tracer(spark, o.trace)
      val ref0 = Harness.hostRefMs()
      val m = run(spark, o, tr)
      val ref1 = Harness.hostRefMs()
      if (o.trace && o.traceOut.nonEmpty) tr.writeJsonl(o.traceOut)
      val metrics = if (o.trace) Report.perLayer(o.workload, m, tr, cores)
                    else Report.endToEnd(m)
      val w = new java.io.PrintWriter(o.out, "UTF-8")
      try w.println(Report.json(m, metrics, cores, (ref0, ref1))) finally w.close()
    } finally spark.stop()
  }
}

/** Metric definitions. End-to-end metrics come from the untraced
  * requests; per-layer metrics from the traced requests' spans. */
object Report {

  final case class Metric(name: String, value: Double, unit: String)

  def endToEnd(m: Measured): Seq[Metric] = {
    val ms = m.samples.filterNot(_.traced).map(_.ms)
    Seq(
      Metric("setup_s", Stats.median(m.setupMs) / 1000.0, "s"),
      Metric("req_p50_ms", Stats.percentile(ms, 0.50), "ms"),
      Metric("req_p75_ms", Stats.percentile(ms, 0.75), "ms"),
      Metric("req_per_s", ms.size / m.loopSec, "1/s"),
      Metric("cpu_ms_per_req", m.cpuMs / ms.size, "ms"),
      Metric("peak_rss_mb", Harness.peakRssMb(), "MB"))
  }

  val Kinds: Seq[String] = Dashboard.Kinds.distinct

  def perLayer(workload: String, m: Measured, tr: Tracer, cores: Int): Seq[Metric] = {
    val spans = tr.spans.toSeq
    val self = tr.selfMs
    val roots = spans.filter(_.name == "request")
    val named = spans.groupBy(_.name).withDefaultValue(Seq.empty)
    def a(s: Span, k: String) = s.attrs.getOrElse(k, 0.0)
    def mean(xs: Seq[Double]) = Stats.mean(xs)
    def perReq(name: String, k: String) = named(name).map(a(_, k)).sum / roots.size.max(1)
    val exec = named("execute")
    val execMs = exec.map(_.ms).sum
    val plan = named("optimize") ++ named("physical")
    val byFamily = roots.groupBy(r => Analytics.family(r.kind))
    val untraced = m.samples.filterNot(_.traced)
    val traced = m.samples.filter(_.traced)
    Seq(
      Metric("queries.build_ms", mean(named("build").map(_.ms)), "ms"),
      Metric("queries.build_share", named("build").map(_.ms).sum / roots.map(_.ms).sum, "share"),
      Metric("queries.eager_jobs", perReq("build", "jobs"), "count"),
      Metric("plans.optimize_ms", mean(named("optimize").map(_.ms)), "ms"),
      Metric("plans.physical_ms", mean(named("physical").map(_.ms)), "ms"),
      Metric("plans.jobs", plan.map(a(_, "jobs")).sum / roots.size.max(1), "count"),
      Metric("plans.exchanges", mean(exec.map(a(_, "exchanges"))), "count"),
      Metric("plans.rollup_fired", m.extra.getOrElse("plans.rollup_fired", 0.0), "count"),
      Metric("plans.rollup_declined", m.extra.getOrElse("plans.rollup_declined", 0.0), "count"),
      Metric("sources.input_bytes", mean(roots.map(a(_, "input_bytes"))), "B"),
      Metric("sources.input_rows", mean(roots.map(a(_, "input_rows"))), "count"),
      Metric("sources.manifest_parses", mean(roots.map(a(_, "manifest_parses"))), "count"),
      Metric("sources.ingest_rows_per_s", m.extra("sources.ingest_rows_per_s"), "1/s"),
      Metric("sources.store_bytes_per_row", m.extra("sources.store_bytes_per_row"), "B"),
      Metric("sources.store_files", m.extra("sources.store_files"), "count"),
      Metric("exec.ms", mean(exec.map(_.ms)), "ms"),
      Metric("exec.jobs", mean(exec.map(a(_, "jobs"))), "count"),
      Metric("exec.stages", mean(exec.map(a(_, "stages"))), "count"),
      Metric("exec.tasks_per_stage",
        exec.map(a(_, "tasks")).sum / exec.map(a(_, "stages")).sum.max(1.0), "count"),
      Metric("exec.task_run_ms", mean(exec.map(a(_, "task_run_ms"))), "ms"),
      Metric("exec.task_cpu_ms", mean(exec.map(a(_, "task_cpu_ns") / 1e6)), "ms"),
      Metric("exec.gc_ms", mean(exec.map(a(_, "gc_ms"))), "ms"),
      Metric("exec.launch_wait_ms", mean(exec.map(a(_, "launch_wait_ms"))), "ms"),
      Metric("exec.shuffle_write_bytes", mean(exec.map(a(_, "shuffle_write_bytes"))), "B"),
      Metric("exec.shuffle_read_bytes", mean(exec.map(a(_, "shuffle_read_bytes"))), "B"),
      Metric("exec.spill_bytes", mean(exec.map(a(_, "spill_bytes"))), "B"),
      Metric("exec.peak_task_mem_bytes",
        (0.0 +: spans.map(a(_, "peak_task_mem_bytes"))).max, "B"),
      Metric("exec.core_util", exec.map(a(_, "task_run_ms")).sum / (execMs * cores).max(1.0),
        "share"),
      Metric("request.self_ms", mean(roots.map(r => self(r.id))), "ms"),
      Metric("trace.overhead_pct",
        (traced.map(_.ms).sum / untraced.map(_.ms).sum - 1.0) * 100.0, "%")) ++
    Analytics.Families.flatMap { f =>
      val rs = byFamily.getOrElse(f, Seq.empty)
      Seq(Metric(s"operators.$f.ms", mean(rs.map(_.ms)), "ms"),
        Metric(s"operators.$f.task_cpu_ms", mean(rs.map(a(_, "task_cpu_ns") / 1e6)), "ms"))
    } ++
    Kinds.map { k =>
      val xs = if (workload != "tsdb_dashboard") Nil
               else untraced.filter(_.group == k).map(_.ms)
      Metric(s"kind.$k.p50_ms", if (xs.isEmpty) 0.0 else Stats.median(xs), "ms")
    }
  }

  def json(m: Measured, metrics: Seq[Metric], cores: Int, hostRef: (Double, Double)): String = {
    val ms = metrics.map(x =>
      s"${Json.str(x.name)}:{\"value\":${Json.num(x.value)},\"unit\":${Json.str(x.unit)}}")
    val untraced = m.samples.filterNot(_.traced)
    val info = Seq(
      "requests" -> untraced.size.toDouble,
      "traced_requests" -> m.samples.count(_.traced).toDouble,
      "loop_s" -> m.loopSec,
      "error_rate" -> m.failed.toDouble / m.attempted.max(1),
      "cores" -> cores.toDouble,
      "host_ref_start_ms" -> hostRef._1,
      "host_ref_end_ms" -> hostRef._2) ++ m.setupMs.zipWithIndex.map { case (t, i) => s"setup_${i + 1}_ms" -> t }
    s"""{"correct":${m.failed == 0},"attempted":${m.attempted},"failed":${m.failed},""" +
      s""""metrics":${ms.mkString("{", ",", "}")},""" +
      s""""info":${info.map { case (k, v) => s"${Json.str(k)}:${Json.num(v)}" }.mkString("{", ",", "}")}}"""
  }
}
