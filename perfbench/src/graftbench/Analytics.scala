package graftbench

import org.apache.spark.sql.SparkSession

import graft.{QueryDef, SparkEntry}

/** `analytics`: declared analytics and LLM-data queries over a fixed
  * fixture with the declared tables' schemas and value profiles, in an
  * order the seed shuffles, after an untimed warm-up pass.
  *
  * Why: these queries bypass the store and the rollup rule. Their cost
  * is construction (the `Tables` loaders, `registerAll`, eager jobs)
  * and the stage-chain floor, plus each family's operator work on a
  * small fixture. The set is fixed and covers every family; it is a
  * subset because a run must hold several timed passes within the
  * benchmark's time budget. */
object Analytics {

  /** The queries of a pass: one per family (the query name's second
    * word), the cheapest of the family's declared queries that return a
    * non-empty result and have a DuckDB oracle, plus the next cheapest
    * of `ts` (the paper's own family), `window` and `join`. A run times
    * four passes of these thirteen, so the nearest-rank p50 and p75 fall
    * inside one query's samples, not on the edge between two queries of
    * different cost. */
  val Queries: Seq[String] = Seq(
    "q_ts_gap_fill", "q_ts_rate_counter", "q_sql_window", "q_window_ntile",
    "q_window_moving", "q_agg_group", "q_join_asof", "q_join_shuffle", "q_dedup_substring",
    "q_text_tfidf", "q_sim_cosine_topk", "q_vec_quantize", "q_multimodal_join")

  val Families: Seq[String] =
    Seq("ts", "sql", "window", "agg", "join", "dedup", "text", "sim", "vec", "multimodal")

  def family(name: String): String = name.split("_").lift(1).getOrElse("")

  /** The fixture is the same for every seed, so each query's result
    * fingerprint is a constant the benchmark records once. */
  val FixtureSeed = 42L

  def defs: IndexedSeq[QueryDef] = {
    val byName = SparkEntry.allDefs.map(q => q.name -> q).toMap
    val missing = Queries.filterNot(byName.contains)
    require(missing.isEmpty, s"declared queries not found: ${missing.mkString(", ")}")
    Queries.map(byName).toIndexedSeq
  }

  /** name → fingerprint, from a `name<TAB>fingerprint` file. */
  def readExpected(path: String): Map[String, String] =
    if (path.isEmpty || !new java.io.File(path).exists()) Map.empty
    else scala.io.Source.fromFile(path, "UTF-8").getLines()
      .filter(_.contains("\t")).map { l => val a = l.split("\t"); a(0) -> a(1) }.toMap

  private def write(path: String, text: String): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try w.print(text) finally w.close()
  }

  /** Write the fingerprints, plus what `perfbench/oracle.py` needs to
    * check them against the DuckDB oracle: each oracled query's result
    * as parquet, its oracle SQL, and the fixture directory. */
  private def record(spark: SparkSession, o: Opts, dir: String, fps: Map[String, String]): Unit = {
    write(o.expected, Queries.map(n => s"$n\t${fps(n)}\n").mkString)
    val oracle = SparkEntry.oracleSql
    val dump = s"${o.work}/oracle"
    val sqls = defs.filter(q => oracle.contains(q.name)).map { q =>
      graft.Util.ntzNormalize(q.fn(spark, dir)).write.parquet(s"$dump/${q.name}")
      s"${Json.str(q.name)}:${Json.str(oracle(q.name))}"
    }
    write(s"$dump/oracle_sql.json", sqls.mkString("{", ",", "}"))
    write(s"$dump/fixture", dir)
  }

  def run(spark: SparkSession, o: Opts, tr: Tracer): Measured = {
    val tables = Gen.analyticsTables(FixtureSeed)
    val rows = tables.map(_._3.size).sum
    val (dir, setupMs) = Harness.setups(s"${o.work}/analytics", 3) { d =>
      Gen.writeTables(spark, d, tables)
    }
    Harness.log("set-up done")
    val expected = readExpected(o.expected)
    val seen = scala.collection.mutable.Map.empty[String, String]
    // recording: every execution must agree with the first; otherwise
    // with the recorded value
    def check(name: String, fp: Fp): Boolean = {
      val want =
        if (o.mode == "record") seen.getOrElseUpdate(name, fp.toString)
        else expected.getOrElse(name, "unrecorded")
      if (want != fp.toString)
        System.err.println(s"[perfbench] wrong result: $name $fp, want $want")
      want == fp.toString
    }
    // an untimed warm-up pass: class loading and first JIT compilation
    // (a second one did not narrow the run-to-run spread)
    val warm = defs.map(q => check(q.name, Fp.run(q.fn(spark, dir))))
    Harness.log("warm-up done")
    val (samples, loopSec, cpu) = Harness.loop(o, defs) { (q, traced) =>
      tr.request(q.name, traced) { r =>
        val fp = Harness.execute(tr, r, q.fn(spark, dir))
        (family(q.name), tr.span(r, "verify")(check(q.name, fp)))
      }
    }
    if (o.mode == "record") record(spark, o, dir, seen.toMap)
    val timed = samples.filterNot(_.traced)
    Measured(setupMs, samples, loopSec, cpu, warm.size + timed.size,
      warm.count(!_) + timed.count(!_.ok),
      Map("sources.ingest_rows_per_s" -> rows / (Stats.median(setupMs) / 1000.0),
        "sources.store_bytes_per_row" -> Harness.du(new java.io.File(dir))._1.toDouble / rows,
        "sources.store_files" -> Harness.du(new java.io.File(dir))._2.toDouble))
  }
}
