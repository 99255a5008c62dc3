package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.{BottomKMergeState, BottomKQuantile, BottomKSample}
import graft.operators.TimeSeriesOps
import graft.sources.TsdbStore

/** The store's quantile column family (`quant_<step>`): per-slot
  * bottom-k sketches materialized at ingest, merged at read time.
  * The load-bearing property is semilattice TRANSPARENCY — merging
  * stored per-slot sketches is bit-identical to sketching the raw
  * rows directly, at any scale — plus exactness below K samples per
  * evaluated slot, level-invisibility, and incremental maintenance. */
class QuantCascadeSpec extends SparkSpec {

  private val B = 1704844800L
  private val E = 1705708800L

  private lazy val store: String = {
    val dir = tempDir("graft_quant")
    TsdbStore.ingest(spark, Tables.events(spark, Sf), dir)
    dir
  }

  /** One-pass bottom-k sketch straight off the raw base rows, same
    * priorities, same slotting — the ground truth the stored-and-
    * merged path must equal BIT-FOR-BIT. */
  private def directSketch(uid: Long, etype: String, stepSec: Long): Map[Long, Seq[Double]] = {
    val bk = udaf(new BottomKQuantile)
    spark.read.parquet(s"$store/base")
      .filter(col("user_id") === uid && col("event_type") === etype)
      .filter(col("ts_us") >= B * 1000000L && col("ts_us") < E * 1000000L)
      .select(TimeSeriesOps.slotSec(stepSec).as("slot_ts"),
        xxhash64(col("user_id"), col("event_type"), col("event_id")).as("pri"),
        col("cents").cast("double").as("v"))
      .groupBy("slot_ts")
      .agg(bk(col("pri"), col("v")).as("sample"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toSeq).toMap
  }

  private def fetched(uid: Long, etype: String, stepSec: Long, q: Double): Map[Long, Double] =
    TsdbStore.fetchQuantile(spark, store, uid, etype, B, E, stepSec, q)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap

  test("merged stored sketches == one-pass sketch over raw, bit-for-bit (day slots)") {
    val direct = directSketch(7L, "click", 86400L)
    val p95 = fetched(7L, "click", 86400L, 0.95)
    assert(direct.nonEmpty && direct.keySet == p95.keySet)
    direct.foreach { case (slot, sample) =>
      val rank = math.max(1, math.ceil(0.95 * sample.length).toInt)
      val expect = sample(rank - 1) / 100.0
      assert(p95(slot) == expect,
        s"slot $slot: stored-merge read ${p95(slot)}, direct sketch $expect")
    }
  }

  test("below K samples per slot the read is the EXACT nearest-rank quantile") {
    // fixture density is far below K=512 per (series, day): the merged
    // buffer holds every sample, so p50 must equal the exact
    // nearest-rank median of the raw cents
    val exact = spark.read.parquet(s"$store/base")
      .filter(col("user_id") === 7L && col("event_type") === "click")
      .filter(col("ts_us") >= B * 1000000L && col("ts_us") < E * 1000000L)
      .select(TimeSeriesOps.slotSec(86400L).as("slot_ts"), col("cents"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).map { case (slot, rows) =>
        val s = rows.map(_._2).sorted
        val rank = math.max(1, math.ceil(0.5 * s.length).toInt)
        slot -> s(rank - 1).toDouble / 100.0
      }
    val p50 = fetched(7L, "click", 86400L, 0.5)
    assert(p50.nonEmpty && p50 == exact,
      s"sub-K read must be exact: $p50 vs $exact")
  }

  test("the scanned level is result-invisible (6h-merged == day-stored)") {
    // a day request scans quant_86400; force the same answer through
    // the FINER level by merging 6h sketches up to day slots by hand
    val ms = udaf(new BottomKMergeState)
    val viaFine = spark.read.parquet(s"$store/quant_21600")
      .filter(col("user_id") === 7L && col("event_type") === "click")
      .filter(col("slot_ts") >= B && col("slot_ts") < E)
      .groupBy((expr("slot_ts div 86400") * 86400).as("slot_ts"))
      .agg(ms(col("pri"), col("value")).as("sk"))
      .select(col("slot_ts"),
        (expr("element_at(array_sort(sk.value), " +
          "int(greatest(1, ceil(0.95 * size(sk.value)))))") / 100.0).as("value"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(fetched(7L, "click", 86400L, 0.95) == viaFine)
  }

  test("incremental upsert recomputes the quant cascade's touched partitions only") {
    val dir = tempDir("graft_quant_inc")
    val events = Tables.events(spark, Sf)
    TsdbStore.ingest(spark, events, dir, graft.sources.StoreLayout(commit = "manifest"))
    // replay one day's purchases with shifted values (same event_ids —
    // last write wins), then compare against a full re-ingest
    val dayStart = 1705017600L
    val replay = events
      .filter(col("event_type") === "purchase")
      .filter(unix_micros(col("ts")) >= dayStart * 1000000L &&
        unix_micros(col("ts")) < (dayStart + 86400L) * 1000000L)
      .withColumn("value", col("value") + 7.0)
    val before = TsdbStore.readTable(spark, dir, "quant_86400")
      .select("user_id", "event_type", "slot_ts", "pri", "value", "dt")
    val untouchedBefore = before.filter(col("dt") =!= java.sql.Date.valueOf("2024-01-12"))
      .collect().map(_.toString).sorted.toSeq
    TsdbStore.upsertIncremental(spark, replay, dir)
    val after = TsdbStore.readTable(spark, dir, "quant_86400")
      .select("user_id", "event_type", "slot_ts", "pri", "value", "dt")
    val untouchedAfter = after.filter(col("dt") =!= java.sql.Date.valueOf("2024-01-12"))
      .collect().map(_.toString).sorted.toSeq
    assert(untouchedBefore == untouchedAfter, "untouched partitions changed")

    val full = tempDir("graft_quant_full")
    val merged = events.withColumn("gen", lit(0))
      .unionByName(replay.withColumn("gen", lit(1)))
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("user_id", "event_type", "event_id")
          .orderBy(col("gen").desc)))
      .filter(col("rk") === 1).drop("gen", "rk")
    TsdbStore.ingest(spark, merged, full)
    val expect = spark.read.parquet(s"$full/quant_86400")
      .select("user_id", "event_type", "slot_ts", "pri", "value")
      .collect().map(_.toString).sorted.toSeq
    val got = after.select("user_id", "event_type", "slot_ts", "pri", "value")
      .collect().map(_.toString).sorted.toSeq
    assert(got == expect, "incremental quant cascade != full recompute")
  }

  test("fleet quantile == one-pass sketch over raw at the fleet grain (past exactness)") {
    // across ALL series of a type the evaluated cells exceed K at real
    // densities — the read becomes an estimate, but the semilattice
    // still makes stored-merge == direct-sketch BIT-identical
    val bk = udaf(new BottomKQuantile)
    val direct = spark.read.parquet(s"$store/base")
      .filter(col("event_type") === "click")
      .filter(col("ts_us") >= B * 1000000L && col("ts_us") < E * 1000000L)
      .select(TimeSeriesOps.slotSec(86400L).as("slot_ts"),
        xxhash64(col("user_id"), col("event_type"), col("event_id")).as("pri"),
        col("cents").cast("double").as("v"))
      .groupBy("slot_ts")
      .agg(bk(col("pri"), col("v")).as("sample"))
      .collect().map { r =>
        val s2 = r.getSeq[Double](1)
        val rank = math.max(1, math.ceil(0.95 * s2.length).toInt)
        r.getLong(0) -> (s2(rank - 1) / 100.0, s2.length)
      }.toMap
    val fleet = TsdbStore.fetchFleetQuantile(spark, store, "click", B, E, 86400L, 0.95)
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getInt(2))).toMap
    assert(fleet.nonEmpty && fleet == direct,
      s"fleet stored-merge diverged from the direct sketch: $fleet vs $direct")
  }

  test("bulk quantile == the per-series fetches, from one scan") {
    val bulk = TsdbStore.fetchBulkQuantile(spark, store,
        Seq((7L, "click"), (3L, "view")), B, E, 86400L, 0.95)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)) -> r.getDouble(3))
      .toMap
    val singles =
      fetched(7L, "click", 86400L, 0.95).map { case (s2, v) => (7L, "click", s2) -> v } ++
      fetched(3L, "view", 86400L, 0.95).map { case (s2, v) => (3L, "view", s2) -> v }
    assert(bulk.nonEmpty && bulk == singles)
  }

  test("monthly layout: quantile reads prune 'YYYY-MM' partitions and stay exact") {
    val dir = tempDir("graft_quant_month")
    TsdbStore.ingest(spark, Tables.events(spark, Sf), dir,
      graft.sources.StoreLayout(monthly = true))
    val got = TsdbStore.fetchQuantile(spark, dir, 7L, "click", B, E, 86400L, 0.5)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // ground truth: exact nearest-rank median from raw (sub-K density)
    val exact = spark.read.parquet(s"$dir/base")
      .filter(col("user_id") === 7L && col("event_type") === "click")
      .filter(col("ts_us") >= B * 1000000L && col("ts_us") < E * 1000000L)
      .select(TimeSeriesOps.slotSec(86400L).as("slot_ts"), col("cents"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).map { case (slot, rows2) =>
        val s2 = rows2.map(_._2).sorted
        slot -> s2(math.max(1, math.ceil(0.5 * s2.length).toInt) - 1).toDouble / 100.0
      }
    assert(got.nonEmpty && got == exact, s"monthly quantile diverged: $got vs $exact")
    // the monthly quant table partitions by 'YYYY-MM'
    val dts = new java.io.File(s"$dir/quant_86400").listFiles()
      .map(_.getName).filter(_.startsWith("dt=")).toSeq
    assert(dts.nonEmpty && dts.forall(_.matches("dt=\\d{4}-\\d{2}")), s"dts: $dts")
  }

  test("quantiles = false opts out of the column family; reads fail loudly") {
    val dir = tempDir("graft_quant_off")
    TsdbStore.ingest(spark, Tables.events(spark, Sf), dir,
      graft.sources.StoreLayout(quantiles = false, commit = "manifest"))
    def tables(): Set[String] = graft.sources.StoreManifest.load(
        new org.apache.hadoop.fs.Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration),
        dir).entries.keys.map(_._1).toSet
    val dirs = tables()
    assert(!dirs.exists(_.startsWith("quant_")), s"quant tables built anyway: $dirs")
    assert(dirs.contains("agg_21600") && dirs.contains("rate_21600"),
      "the other cascades must still build")
    val e = intercept[IllegalArgumentException] {
      TsdbStore.fetchQuantile(spark, dir, 7L, "click", B, E, 86400L, 0.5)
    }
    assert(e.getMessage.contains("quantiles = false"), e.getMessage)
    // incremental maintenance skips the family without tripping over it
    TsdbStore.upsertIncremental(spark,
      Tables.events(spark, Sf).limit(5), dir)
    assert(!tables().exists(_.startsWith("quant_")))
    // maintenance reports only the tables the store holds
    val dropped = TsdbStore.dropBefore(spark, dir, 1704672000L) // 2024-01-08
    val deleted = TsdbStore.deleteSeries(spark, dir, 7L, "click")
    assert(dropped("base").nonEmpty && deleted("base").nonEmpty)
    val reported = dropped.keySet ++ deleted.keySet
    assert(!reported.exists(_.startsWith("quant_")), s"quant tables reported: $reported")
    assert(!tables().exists(_.startsWith("quant_")))
  }

  test("fetchQuantile validates its arguments loudly") {
    intercept[IllegalArgumentException] {
      TsdbStore.fetchQuantile(spark, store, 7L, "click", B, E, 86400L, 1.5)
    }
    intercept[IllegalArgumentException] {
      TsdbStore.fetchQuantile(spark, store, 7L, "click", B, E, 1234L, 0.5)
    }
    // no aggStep = 0 raw mode here (unlike fetch): a quantile over raw
    // IS the sketch read — zero/negative steps are caller errors, and
    // slot_ts div 0 would otherwise return one NULL-keyed garbage row
    intercept[IllegalArgumentException] {
      TsdbStore.fetchQuantile(spark, store, 7L, "click", B, E, 0L, 0.5)
    }
    intercept[IllegalArgumentException] {
      TsdbStore.fetchBulkQuantile(spark, store, Seq((7L, "click")), B, E, -86400L, 0.5)
    }
  }
}
