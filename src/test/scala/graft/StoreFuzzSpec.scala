package graft

import scala.util.Random

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.TsdbStore

/** Differential fuzzing of the store READ API (round 11) — the
  * sibling of RollupFuzzSpec for the fetch surface: random
  * (series, range, step, cf, quantile) parameter draws, each checked
  * against an independent recomputation from the raw events — so the
  * whole ingest → cascade → prune → consolidate pipeline is pinned
  * for parameters nobody hand-picked. Values compare EXACTLY (both
  * sides compute the same IEEE expressions over exact integers, the
  * §7.4 discipline), and at this fixture's density every evaluated
  * quantile cell is sub-K, so the sketch reads are exact too. */
class StoreFuzzSpec extends SparkSpec {

  private lazy val store: String = {
    val dir = tempDir("graft_store_fuzz")
    TsdbStore.ingest(spark, Tables.events(spark, Sf), dir)
    dir
  }

  private val T0 = 1704067200L // 2024-01-01, fixture start
  private val Span = 31L * 86400L
  private val cfs = Seq("average", "min", "max", "sum", "raw", "first",
    "last", "delta", "rate")

  private def raw: DataFrame = Tables.measurements(spark, Sf)
    .select(col("user_id"), col("event_type"), col("ts_us"),
      col("event_id"), col("cents"))

  /** Independent recomputation of fetch(userId, etype, [b,e), step, cf)
    * from raw events. Slot membership (not sample-ts membership)
    * decides inclusion — a cell whose slot lies in [b,e) contributes
    * ALL its samples, exactly like the cascade read. */
  private def recompute(userId: Long, etype: String, b: Long, e: Long,
                        step: Long, cf: String): DataFrame = {
    val slot = (expr(s"ts_us div ${step * 1000000L}") * step).as("slot_ts")
    cf match {
      case "delta" | "rate" =>
        // wrap-corrected heartbeat-valid deltas over the WHOLE series
        // (a delta's validity doesn't depend on the requested range),
        // slotted by the current sample's ts
        val cap = Tables.WrapCap
        val hbUs = TsdbStore.readLayout(spark, store).heartbeatSec * 1000000L
        val w = Window.partitionBy("user_id", "event_type")
          .orderBy("ts_us", "event_id")
        val deltas = raw
          .filter(col("user_id") === userId && col("event_type") === etype)
          .withColumn("prev_cents", lag("cents", 1).over(w))
          .withColumn("prev_ts_us", lag("ts_us", 1).over(w))
          .withColumn("dt_us", col("ts_us") - col("prev_ts_us"))
          .withColumn("delta_cents",
            ((col("cents") - col("prev_cents")) % cap + cap) % cap)
          .filter(col("prev_ts_us").isNotNull &&
            col("dt_us") <= hbUs)
          .groupBy(slot)
          .agg(sum("delta_cents").as("delta_cents"), sum("dt_us").as("dt_us"))
          .filter(col("slot_ts") >= b && col("slot_ts") < e)
        val v =
          if (cf == "delta") col("delta_cents").cast("double") / 100.0
          else when(col("dt_us") > 0,
            (col("delta_cents").cast("double") / 100.0) /
              (col("dt_us").cast("double") / 1000000.0))
        deltas.select(col("slot_ts"), v.as("value"))
      case _ =>
        val cells = raw
          .filter(col("user_id") === userId && col("event_type") === etype)
          .groupBy(slot)
          .agg(count(lit(1)).as("n"), sum("cents").as("sum_cents"),
            min("cents").as("min_cents"), max("cents").as("max_cents"),
            min_by(col("cents"), struct(col("ts_us"), col("event_id")))
              .as("first_cents"),
            max_by(col("cents"), struct(col("ts_us"), col("event_id")))
              .as("last_cents"))
          .filter(col("slot_ts") >= b && col("slot_ts") < e)
        val v = cf match {
          case "average" =>
            col("sum_cents").cast("double") / 100.0 / col("n").cast("double")
          case "min" => col("min_cents").cast("double") / 100.0
          case "max" => col("max_cents").cast("double") / 100.0
          case "sum" => col("sum_cents").cast("double") / 100.0
          case "raw" => col("n").cast("double")
          case "first" => col("first_cents").cast("double") / 100.0
          case "last" => col("last_cents").cast("double") / 100.0
        }
        cells.select(col("slot_ts"), v.as("value"))
    }
  }

  private def rows(df: DataFrame): Set[(Long, Option[Double])] =
    df.collect().map(r =>
      (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toSet

  test("120 random fetch parameter draws equal the raw recomputation exactly") {
    store // force fixture
    val failures = (0 until 120).flatMap { i =>
      val r = new Random(4400L + i)
      val userId = r.nextInt(15).toLong
      val etype = Seq("click", "view", "purchase", "signup", "error")(r.nextInt(5))
      val step = Seq(21600L, 86400L)(r.nextInt(2))
      val cf = cfs(r.nextInt(cfs.length))
      // aligned or deliberately UNALIGNED bounds (slot-membership
      // semantics must hold either way)
      val off = r.nextLong(Span - 8L * 86400L)
      val begin = if (r.nextBoolean()) T0 + (off / step) * step else T0 + off
      val end = begin + 3600L + r.nextLong(7L * 86400L)
      try {
        val got = rows(TsdbStore.fetch(spark, store, userId, etype,
          begin, end, aggStep = step, cf = cf))
        val want = rows(recompute(userId, etype, begin, end, step, cf))
        if (got == want) None
        else Some(s"draw $i: cf=$cf step=$step series=($userId,$etype) " +
          s"[$begin,$end): fetch=${got.size} rows, recompute=${want.size}; " +
          s"diff=${(got diff want).take(3)} / ${(want diff got).take(3)}")
      } catch {
        case ex: Throwable => Some(s"draw $i crashed (cf=$cf): ${ex.getMessage}")
      }
    }
    assert(failures.isEmpty,
      s"${failures.size} mismatches:\n${failures.take(5).mkString("\n")}")
  }

  test("50 random fetchFilled draws: dense grid, present slots exact, absent slots NULL") {
    store
    val failures = (0 until 50).flatMap { i =>
      val r = new Random(6600L + i)
      val userId = r.nextInt(15).toLong
      val etype = Seq("click", "view", "purchase", "signup", "error")(r.nextInt(5))
      val step = Seq(21600L, 86400L)(r.nextInt(2))
      val cf = cfs(r.nextInt(cfs.length))
      val off = r.nextLong(Span - 8L * 86400L)
      val begin = if (r.nextBoolean()) T0 + (off / step) * step else T0 + off
      val end = begin + 3600L + r.nextLong(5L * 86400L)
      try {
        val got = rows(TsdbStore.fetchFilled(spark, store, userId, etype,
          begin, end, aggStep = step, cf = cf, fill = "null"))
        val firstSlot = Math.floorDiv(begin, step) * step
        val present = rows(recompute(userId, etype, firstSlot, end, step, cf))
          .map { case (s, v) => s -> v }.toMap
        val want = (firstSlot until end by step)
          .map(s => (s, present.getOrElse(s, None))).toSet
        if (got == want) None
        else Some(s"draw $i: cf=$cf step=$step ($userId,$etype) " +
          s"[$begin,$end): grid=${want.size} got=${got.size}; " +
          s"diff=${(got diff want).take(3)} / ${(want diff got).take(3)}")
      } catch {
        case ex: Throwable => Some(s"draw $i crashed (cf=$cf): ${ex.getMessage}")
      }
    }
    assert(failures.isEmpty,
      s"${failures.size} mismatches:\n${failures.take(5).mkString("\n")}")
  }

  test("30 random fetch draws against the MONTHLY-chunk layout match the same recomputation") {
    // the dt=YYYY-MM mapping changes partition pruning, not semantics:
    // the identical raw recomputation must hold for random params
    val monthly = {
      val dir = tempDir("graft_store_fuzz_monthly")
      TsdbStore.ingest(spark, Tables.events(spark, Sf), dir,
        graft.sources.StoreLayout(monthly = true))
      dir
    }
    val failures = (0 until 30).flatMap { i =>
      val r = new Random(7700L + i)
      val userId = r.nextInt(15).toLong
      val etype = Seq("click", "view", "purchase", "signup", "error")(r.nextInt(5))
      val step = Seq(21600L, 86400L)(r.nextInt(2))
      val cf = cfs(r.nextInt(cfs.length))
      val off = r.nextLong(Span - 8L * 86400L)
      val begin = if (r.nextBoolean()) T0 + (off / step) * step else T0 + off
      val end = begin + 3600L + r.nextLong(7L * 86400L)
      try {
        val got = rows(TsdbStore.fetch(spark, monthly, userId, etype,
          begin, end, aggStep = step, cf = cf))
        val want = rows(recompute(userId, etype, begin, end, step, cf))
        if (got == want) None
        else Some(s"draw $i: cf=$cf step=$step ($userId,$etype) [$begin,$end)")
      } catch {
        case ex: Throwable => Some(s"draw $i crashed (cf=$cf): ${ex.getMessage}")
      }
    }
    assert(failures.isEmpty,
      s"${failures.size} mismatches:\n${failures.take(5).mkString("\n")}")
  }

  test("40 random quantile draws equal exact nearest-rank/interpolated percentiles") {
    store
    val failures = (0 until 40).flatMap { i =>
      val r = new Random(5500L + i)
      val userId = r.nextInt(15).toLong
      val etype = Seq("click", "view", "purchase", "signup", "error")(r.nextInt(5))
      val step = Seq(21600L, 43200L, 86400L)(r.nextInt(3))
      val q = Seq(0.25, 0.5, 0.75, 0.95, 0.99)(r.nextInt(5))
      val interp = r.nextBoolean() && (q == 0.25 || q == 0.5 || q == 0.75)
      val begin = T0 + r.nextInt(20).toLong * 86400L
      val end = begin + (r.nextInt(7) + 1).toLong * 86400L
      try {
        val got = rows(TsdbStore.fetchQuantile(spark, store, userId, etype,
          begin, end, aggStep = step, q = q, interp = interp))
        // exact percentile over raw cents (stored sketch values are
        // cents as doubles; the read divides by 100 at the END —
        // mirror that order, don't pre-scale the inputs); sub-K cells
        // make the sketch read exact
        val f = if (interp) s"percentile_cont($q)" else s"percentile_disc($q)"
        val want = rows(raw
          .filter(col("user_id") === userId && col("event_type") === etype)
          .groupBy((expr(s"ts_us div ${step * 1000000L}") * step).as("slot_ts"))
          .agg((expr(s"$f WITHIN GROUP (ORDER BY CAST(cents AS DOUBLE))") / 100.0)
            .as("value"))
          .filter(col("slot_ts") >= begin && col("slot_ts") < end))
        if (got == want) None
        else Some(s"draw $i: q=$q interp=$interp step=$step " +
          s"($userId,$etype) [$begin,$end): " +
          s"diff=${(got diff want).take(3)} / ${(want diff got).take(3)}")
      } catch {
        case ex: Throwable => Some(s"draw $i crashed: ${ex.getMessage}")
      }
    }
    assert(failures.isEmpty,
      s"${failures.size} mismatches:\n${failures.take(5).mkString("\n")}")
  }
}
