package graft

import scala.util.Random

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.TimeSeriesOps
import graft.sources.TsdbStore

/** Differential fuzzing of the ROLLUP SUBSTITUTION rule (round 11):
  * the rule is the repo's largest optimizer surface, and its spec
  * enumerates ~40 hand-picked shapes — this spec throws seeded RANDOM
  * slot-aggregation queries at it and pins the only invariant that
  * matters: with the flag ON, every query returns exactly the rows
  * the raw flag-OFF plan returns (the raw plan IS the oracle; a
  * decline is always legal, a wrong substitution never). Shapes
  * drawn: grouping subsets of (user_id, event_type, slot@step) incl.
  * fleet-wide and global, steps that hit/re-aggregate/decline the
  * cascade, monoid + distinct + approx aggregates, quantile-only
  * aggregates, transferable and non-transferable filters, aligned
  * and UNALIGNED time ranges (the split path), HAVING, top-k, a
  * broadcast unique dim join on user_id, event_type or both (whose
  * dim may carry a column named like the other base key), and the
  * canonical lag-window counter-delta shape. Floors on how many
  * queries actually rewrote — overall and per cascade family — keep
  * the test from degenerating into raw-vs-raw. */
class RollupFuzzSpec extends SparkSpec {

  private val Flag = "spark.graft.rollup.rewrite"

  private lazy val store: String = {
    val dir = tempDir("graft_rollup_fuzz")
    TsdbStore.ingest(spark, Tables.events(spark, Sf), dir)
    dir
  }

  // fixture range (sf0.001 events live in Jan 2024); bounds land
  // inside it so ranges are non-degenerate
  private val T0 = 1704067200L // 2024-01-01
  private val T1 = 1706745600L // 2024-02-01

  private val EventTypes = Seq("click", "view", "purchase", "signup", "error")

  private def pick[A](r: Random, xs: Seq[A]): A = xs(r.nextInt(xs.length))

  /** Optional series-identity filter (transferable) or a
    * non-transferable predicate (must decline, still correct). */
  private def seriesFilter(r: Random, df: DataFrame): DataFrame =
    r.nextInt(4) match {
      case 0 => df.filter(col("event_type") === pick(r, EventTypes))
      case 1 => df.filter(col("user_id") < (r.nextInt(12) + 2).toLong)
      case 2 if r.nextBoolean() => df.filter(col("cents") % 7 =!= 3)
      case _ => df
    }

  /** Optional ts_us range: aligned (transfers) or unaligned (splits on
    * the value path, declines on the others). */
  private def tsRange(r: Random, df: DataFrame): DataFrame =
    if (r.nextInt(3) > 0) {
      val aligned = r.nextBoolean()
      val step = 86400L
      val lo = T0 + r.nextInt(20).toLong * step
      val hi = lo + (r.nextInt(8) + 1).toLong * step
      val (loUs, hiUs) =
        if (aligned) (lo * 1000000L, hi * 1000000L)
        else (lo * 1000000L + r.nextInt(1000000) * 1000L,
          hi * 1000000L - r.nextInt(1000000) * 1000L)
      df.filter(col("ts_us") >= loUs && col("ts_us") < hiUs)
    } else df

  private def pickStep(r: Random): Long =
    pick(r, Seq(21600L, 43200L, 86400L, 172800L, 604800L, 10800L))

  /** Group (or globally aggregate), then optional HAVING and top-k on
    * `rankCol`; `keys` pairs each output name with its column. */
  private def finish(r: Random, df: DataFrame, keys: Seq[(String, Column)],
                     aggs: Seq[Column], rankCol: String): DataFrame = {
    var q =
      if (keys.isEmpty) df.agg(aggs.head, aggs.tail: _*)
      else df.groupBy(keys.map(_._2): _*).agg(aggs.head, aggs.tail: _*)
    if (r.nextInt(4) == 0) q = q.filter(col(rankCol) > r.nextInt(3))
    if (r.nextInt(4) == 0 && keys.nonEmpty)
      // top-k must be a TOTAL order or the limited row set itself is
      // plan-dependent: tie-break on every grouping key
      q = q.orderBy(col(rankCol).desc +: keys.map(k => col(k._1)): _*)
        .limit(r.nextInt(50) + 1)
    q
  }

  /** One random slot aggregation over the store's base table. */
  private def gen(r: Random): DataFrame =
    if (r.nextInt(5) == 0) genRate(r) else genAgg(r)

  /** A value or quantile aggregation, optionally above a unique dim. */
  private def genAgg(r: Random): DataFrame = {
    val base = tsRange(r, seriesFilter(r, spark.read.parquet(s"$store/base")))
    // dim join: None, or the join keys plus whether the dim carries a
    // column named like the base key it is NOT joined on
    val dimOn: Option[(Seq[String], Boolean)] =
      if (r.nextInt(3) == 0)
        Some((pick(r, Seq(Seq("user_id"), Seq("event_type"),
          Seq("user_id", "event_type"))), r.nextBoolean()))
      else None
    val (df, dimKeys) = dimOn match {
      case None => (base, Seq.empty[(String, Column)])
      case Some((on, shadow)) =>
        val users = spark.range(500).select(col("id").as("user_id"))
        val types = spark.createDataFrame(EventTypes.zipWithIndex.map {
          case (t, i) => (t, i.toLong) }).toDF("event_type", "et_ix")
        val dim = on match {
          case Seq("user_id") =>
            val d = users.withColumn("tier", concat(lit("t"), col("user_id") % 3))
            if (shadow) d.withColumn("event_type", lit(pick(r, EventTypes))) else d
          case Seq("event_type") =>
            val d = types.withColumn("tier", concat(lit("g"), col("et_ix") % 2))
            if (shadow) d.withColumn("user_id", col("et_ix") + 100L) else d
          case _ =>
            users.crossJoin(types).withColumn("tier",
              concat(lit("x"), (col("user_id") + col("et_ix")) % 4))
        }
        val cond = on.map(k => col(s"b.$k") === col(s"d.$k")).reduce(_ && _)
        val shadowKey =
          if (!shadow || on.size == 2) Nil
          else {
            val k = if (on == Seq("user_id")) "event_type" else "user_id"
            Seq(s"d_$k" -> col(s"d.$k").as(s"d_$k"))
          }
        (base.as("b").join(broadcast(dim.as("d")), cond),
          Seq("tier" -> col("d.tier")).filter(_ => r.nextBoolean()) ++
            shadowKey.filter(_ => r.nextInt(3) > 0))
    }
    val (u, e) = if (dimOn.isEmpty) ("user_id", "event_type")
      else ("b.user_id", "b.event_type")
    val step = pickStep(r)
    val keys =
      (if (r.nextBoolean()) Seq("user_id" -> col(u)) else Nil) ++
      (if (r.nextBoolean()) Seq("event_type" -> col(e)) else Nil) ++
      dimKeys ++
      (if (r.nextInt(4) > 0)
        Seq("slot_ts" -> TimeSeriesOps.slotSec(step).as("slot_ts")) else Nil)

    val quantPool = Seq(
      () => expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY cents)").as("p50"),
      () => expr("percentile_cont(0.25) WITHIN GROUP (ORDER BY cents)").as("p25"),
      () => expr("percentile_disc(0.9) WITHIN GROUP (ORDER BY cents)").as("p90"))
    if (r.nextInt(4) == 0) {
      // quantile-only aggregates: the only shape the quantile path serves
      val aggs = quantPool.take(r.nextInt(3) + 1).map(_())
      finish(r, df, keys, aggs, "p50")
    } else {
      val aggPool = Seq(
        () => count(lit(1)).as("n"),
        () => sum("cents").as("s"),
        () => min("cents").as("mn"),
        () => max("cents").as("mx"),
        () => avg("cents").as("av"),
        () => countDistinct(col(u)).as("du"),
        () => approx_count_distinct(col(u)).as("adu")) ++ quantPool.take(2)
      val aggs = Seq.fill(r.nextInt(3) + 1)(pick(r, aggPool)()) :+
        count(lit(1)).as("cnt")
      finish(r, df, keys, aggs, "cnt")
    }
  }

  /** The canonical wrap-corrected counter-delta aggregate over a
    * lag(1) window (the rate cascade's content), with random series
    * filters below the window, ranges above it, groupings and steps,
    * and now and then a foreign heartbeat or a non-rate aggregate. */
  private def genRate(r: Random): DataFrame = {
    val cap = Tables.WrapCap
    val w = Window.partitionBy("user_id", "event_type").orderBy("ts_us", "event_id")
    val hb = if (r.nextInt(6) == 0) 7200L else 21600L
    val winged = seriesFilter(r, spark.read.parquet(s"$store/base"))
      .withColumn("prev_cents", lag("cents", 1).over(w))
      .withColumn("prev_ts_us", lag("ts_us", 1).over(w))
      .withColumn("dt_us", col("ts_us") - col("prev_ts_us"))
      .withColumn("delta_cents", ((col("cents") - col("prev_cents")) % cap + cap) % cap)
      .filter(col("prev_ts_us").isNotNull && col("dt_us") <= hb * 1000000L)
    val step = pickStep(r)
    val keys =
      (if (r.nextBoolean()) Seq("user_id" -> col("user_id")) else Nil) ++
      (if (r.nextBoolean()) Seq("event_type" -> col("event_type")) else Nil) ++
      (if (r.nextInt(4) > 0)
        Seq("slot_ts" -> TimeSeriesOps.slotSec(step).as("slot_ts")) else Nil)
    val aggs = Seq(count(lit(1)).as("n_valid"),
        sum("delta_cents").as("delta_cents"), sum("dt_us").as("dt_us")) ++
      (if (r.nextInt(8) == 0) Seq(max("cents").as("mx")) else Nil)
    finish(r, tsRange(r, winged), keys, aggs, "n_valid")
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  private def withFlag[A](on: Boolean)(body: => A): A = {
    spark.conf.set(Flag, on.toString)
    try body finally spark.conf.unset(Flag)
  }

  /** The cascade families (agg, quant, rate) the optimized plan scans. */
  private def substituted(df: DataFrame): Set[String] =
    df.queryExecution.optimizedPlan.collect {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        l.relation match {
          case f: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            f.location.rootPaths.map(_.toString)
          case _ => Seq.empty[String]
        }
    }.flatten.flatMap(p =>
      Seq("agg", "quant", "rate").filter(f => p.contains(s"/${f}_"))).toSet

  test("150 random slot aggregations: flag-on rows == flag-off rows") {
    store // force fixture
    var fired = 0
    val byFamily = scala.collection.mutable.Map[String, Int]().withDefaultValue(0)
    val failures = (0 until 150).flatMap { i =>
      def q = gen(new Random(7700L + i))
      try {
        val on = withFlag(on = true) {
          val fams = substituted(q)
          if (fams.nonEmpty) fired += 1
          fams.foreach(f => byFamily(f) += 1)
          rows(q)
        }
        val off = withFlag(on = false)(rows(q))
        if (on == off) None
        else Some(s"query $i: flag-on != flag-off " +
          s"(${on.size} vs ${off.size} rows)\n${q.queryExecution.logical}")
      } catch {
        case e: Throwable => Some(s"query $i crashed: ${e.getMessage}")
      }
      // note: gen() re-draws from the same seed for both arms, so the
      // two evaluations see the identical logical query
    }
    assert(failures.isEmpty,
      s"${failures.size} mismatches:\n${failures.take(3).mkString("\n")}")
    assert(fired >= 30,
      s"only $fired/150 queries substituted — the fuzz space stopped " +
        "exercising the rule (generator drift?)")
    info(s"$fired/150 substituted; per family: $byFamily")
    Seq("agg", "quant", "rate").foreach { f =>
      assert(byFamily(f) >= 5,
        s"only ${byFamily(f)}/150 queries substituted ${f}_T: $byFamily")
    }
  }
}
