package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sources.{StoreLayout, StoreManifest, TsdbStore}

/** Store round-trip: ingest → partitioned layout → fetch must equal
  * computing the same consolidation directly from the raw events. The
  * shared fixture uses the default rename layout (ingest + reads);
  * every mutation case builds its own manifest store. */
class TsdbStoreSpec extends SparkSpec {

  private val Manifest = StoreLayout(commit = "manifest")

  /** A store table through the store's own read path. */
  private def tbl(p: String, t: String): DataFrame = TsdbStore.readTable(spark, p, t)

  /** A table's rows as sorted strings, columns in name order — equal
    * across layouts whatever each one's column order. */
  private def rowsOf(p: String, t: String): Seq[String] = {
    val df = tbl(p, t)
    df.select(df.columns.sorted.map(col).toIndexedSeq: _*)
      .collect().map(_.toString).sorted.toSeq
  }

  private def fsOf(p: String) = new org.apache.hadoop.fs.Path(p)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The live (table, dt) → segment-dir map of a manifest store. */
  private def live(p: String): Map[(String, String), String] =
    StoreManifest.load(fsOf(p), p).entries

  /** Live dt partitions of one table of a manifest store. */
  private def liveDts(p: String, t: String): Seq[String] =
    live(p).keys.collect { case (`t`, dt) => dt }.toSeq.sorted

  /** Parquet files serving one live partition of a manifest store. */
  private def liveFiles(p: String, t: String, dt: String): Int =
    new java.io.File(s"$p/${live(p)((t, dt))}").listFiles()
      .count(_.getName.endsWith(".parquet"))

  /** Re-write one day of `p`'s rows through upsertIncremental with at
    * most `perFile` rows per file — the small-file decay a streaming
    * ingest leaves behind, in every table the day touches. */
  private def fragmentDay(p: String, day: String, perFile: Int): Unit = {
    spark.conf.set("spark.sql.files.maxRecordsPerFile", perFile.toString)
    try TsdbStore.upsertIncremental(spark, Tables.events(spark, Sf)
        .filter(col("ts") >= lit(day) && col("ts") < date_add(lit(day), 1)), p)
    finally spark.conf.unset("spark.sql.files.maxRecordsPerFile")
  }

  private lazy val store: String = {
    val p = tempDir("graft-store")
    TsdbStore.ingest(spark, Tables.events(spark, Sf), p)
    p
  }

  test("ingest writes dt-partitioned base + value and rate cascades + layout stamp") {
    val dirs = new java.io.File(store).listFiles().filter(_.isDirectory)
      .map(_.getName).toSet
    assert(dirs == Set("base", "agg_21600", "agg_86400", "rate_21600", "rate_86400",
      "quant_21600", "quant_86400"))
    assert(new java.io.File(s"$store/_LAYOUT").exists(), "layout stamp missing")
    assert(TsdbStore.readLayout(spark, store) == graft.sources.StoreLayout())
    val parts = new java.io.File(s"$store/base").listFiles()
      .filter(_.getName.startsWith("dt=")).map(_.getName)
    assert(parts.length >= 29, s"expected ~30 daily partitions, got ${parts.length}")
    // one codec: every data file of every table is zstd, whichever
    // writer produced it
    dirs.foreach { t =>
      val files = org.apache.commons.io.FileUtils
        .listFiles(new java.io.File(s"$store/$t"), Array("parquet"), true)
        .toArray.map(_.asInstanceOf[java.io.File].getName)
      assert(files.nonEmpty, s"$t has no data files")
      files.foreach(f => assert(f.endsWith(".zstd.parquet"), s"$t/$f is not zstd"))
    }
  }

  test("fetch prunes date partitions (chunk-file addressing for free)") {
    val plan = TsdbStore.fetch(spark, store, 7L, "click", 1704844800L, 1705708800L)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") &&
      plan.linesIterator.exists(l => l.contains("PartitionFilters") && l.contains("dt")),
      "date-partition pruning missing from fetch plan")
  }

  test("fetch(base) round-trips the raw samples in a range") {
    val b = 1704844800L; val e = 1705708800L
    val got = TsdbStore.fetch(spark, store, 7L, "click", b, e)
    val expected = Tables.measurements(spark, Sf)
      .filter(col("user_id") === 7L && col("event_type") === "click" &&
        col("ts_us") >= b * 1000000L && col("ts_us") < e * 1000000L)
      .select(col("ts_us"), (col("cents").cast("double") / 100.0).as("value"))
    assert(got.count() > 0)
    assert(got.exceptAll(expected).isEmpty && expected.exceptAll(got).isEmpty)
  }

  test("fetch(agg) equals direct downsample of raw data") {
    val b = 1704067200L; val e = 1706659200L
    val got = TsdbStore.fetch(spark, store, 3L, "view", b, e, aggStep = 21600L, cf = "average")
    val expected = graft.operators.TimeSeriesOps
      .downsample(Tables.measurements(spark, Sf)
        .filter(col("user_id") === 3L && col("event_type") === "view"), 21600L)
      .filter(col("slot_ts") >= b && col("slot_ts") < e)
      .select(col("slot_ts"),
        (col("sum_cents").cast("double") / 100.0 / col("n").cast("double")).as("value"))
    assert(got.count() > 0)
    assert(got.exceptAll(expected).isEmpty && expected.exceptAll(got).isEmpty)
  }

  test("daily cascade equals daily downsample computed from raw") {
    val got = TsdbStore.fetch(spark, store, 1L, "click",
      1704067200L, 1706659200L, aggStep = 86400L, cf = "max")
    val expected = graft.operators.TimeSeriesOps
      .downsample(Tables.measurements(spark, Sf)
        .filter(col("user_id") === 1L && col("event_type") === "click"), 86400L)
      .filter(col("slot_ts") >= 1704067200L && col("slot_ts") < 1706659200L)
      .select(col("slot_ts"), (col("max_cents").cast("double") / 100.0).as("value"))
    assert(got.exceptAll(expected).isEmpty && expected.exceptAll(got).isEmpty)
  }

  test("bulk fetch returns multiple series from one pruned scan") {
    val out = TsdbStore.fetchBulk(spark, store,
      Seq((1L, "click"), (2L, "view")), 1704067200L, 1706659200L, 21600L)
    val series = out.select("user_id", "event_type").distinct().count()
    assert(series == 2)
  }

  test("bulk fetch at aggStep=0 serves raw samples (per-series == fetch)") {
    val b = 1704844800L; val e = 1705708800L
    val series = Seq((7L, "click"), (3L, "view"))
    val out = TsdbStore.fetchBulk(spark, store, series, b, e, 0L)
    assert(out.select("user_id", "event_type").distinct().count() == 2)
    // every bulk read equals its single-series twin, series by series
    // and row for row (order included), on both commit layouts
    val manifest = tempDir("graft-store-bulk-parity")
    TsdbStore.ingest(spark, Tables.events(spark, Sf), manifest, Manifest)
    def same(what: String, bulk: DataFrame)(single: ((Long, String)) => DataFrame): Unit = {
      val rows = bulk.collect().toSeq
      assert(rows.nonEmpty, s"$what: empty bulk frame")
      series.foreach { case k @ (u, et) =>
        val got = rows.filter(r => r.getLong(0) == u && r.getString(1) == et)
          .map(r => org.apache.spark.sql.Row.fromSeq(r.toSeq.drop(2)))
        assert(got == single(k).collect().toSeq, s"$what $k")
      }
    }
    val cfs = Seq("average", "min", "max", "sum", "raw", "first", "last", "delta", "rate")
    for (p <- Seq(store, manifest)) {
      val steps = TsdbStore.readLayout(spark, p).steps
      same(s"$p raw", TsdbStore.fetchBulk(spark, p, series, b, e, 0L)) { case (u, et) =>
        TsdbStore.fetch(spark, p, u, et, b, e) }
      for (step <- steps; cf <- cfs)
        same(s"$p $step $cf", TsdbStore.fetchBulk(spark, p, series, b, e, step, cf)) {
          case (u, et) => TsdbStore.fetch(spark, p, u, et, b, e, step, cf) }
      for (step <- steps)
        same(s"$p filled $step", TsdbStore.fetchBulkFilled(spark, p, series, b, e, step)) {
          case (u, et) => TsdbStore.fetchFilled(spark, p, u, et, b, e, step, fill = "null") }
      for (step <- steps; interp <- Seq(false, true))
        same(s"$p quantile $step $interp",
            TsdbStore.fetchBulkQuantile(spark, p, series, b, e, step, 0.9, interp)) {
          case (u, et) => TsdbStore.fetchQuantile(spark, p, u, et, b, e, step, 0.9, interp) }
      for (res <- Seq(3600L, 43200L, 86400L)) {
        val (bulkStep, bulk) = TsdbStore.fetchBulkAuto(spark, p, series, b, e, res, "max")
        same(s"$p auto $res", bulk) { case (u, et) =>
          val (step, df) = TsdbStore.fetchAuto(spark, p, u, et, b, e, res, "max")
          assert(step == bulkStep, s"auto $res picked $step single, $bulkStep bulk")
          df
        }
      }
    }
  }

  test("upsert: replayed rows win, base is SWAPPED live, cascades rebuilt") {
    import spark.implicits._
    val p = tempDir("graft-store-upsert")
    TsdbStore.ingest(spark, Tables.events(spark, Sf), p, Manifest)
    val replay = Seq((7L, "click", 424242L, // synthetic new event id
        java.sql.Timestamp.from(java.time.Instant.parse("2024-01-15T12:00:00Z")), 9.99))
      .toDF("user_id", "event_type", "event_id", "ts", "value")
    val existing = tbl(p, "base")
    val nBefore = existing.count()
    // replay an EXISTING row with a changed value + one new row
    val oneOld = existing.limit(1)
      .select(col("user_id"), col("event_type"), col("event_id"),
        timestamp_micros(col("ts_us")).as("ts"), lit(123.45).as("value"))
      .cache()
    oneOld.count()
    val ingested = live(p)
    TsdbStore.upsert(spark, replay.unionByName(oneOld), p)
    // the merge is LIVE as one commit: base and every cascade now read
    // from one fresh segment, none from the ingest's
    val segs = live(p).values.map(_.split("/")(1)).toSet
    assert(segs.size == 1 && !ingested.values.exists(_.contains(segs.head)),
      s"expected every table in one fresh segment: $segs")
    val merged = tbl(p, "base")
    assert(merged.count() == nBefore + 1)
    val changed = merged.join(oneOld.select("event_id"), "event_id")
      .select("cents").head().getLong(0)
    assert(changed == 12345L, "replayed row did not win")
    // the cascades were rebuilt from the new base: the daily cell
    // holding the replayed row must reflect 12345, not the old cents,
    // and the new row's day must include its cents
    val rep = oneOld.select(col("user_id"), col("event_type"),
      expr("unix_micros(ts) div 86400000000 * 86400").as("slot_ts")).head()
    val cell = tbl(p, "agg_86400")
      .filter(col("user_id") === rep.getLong(0) &&
        col("event_type") === rep.getString(1) &&
        col("slot_ts") === rep.getLong(2))
    val rawSum = merged
      .filter(col("user_id") === rep.getLong(0) &&
        col("event_type") === rep.getString(1) &&
        expr("ts_us div 86400000000 * 86400") === rep.getLong(2))
      .agg(sum("cents")).head().getLong(0)
    assert(cell.select("sum_cents").head().getLong(0) == rawSum,
      "value cascade not rebuilt from the swapped base")
  }

  test("compaction: same rows, fewer files, clustering restored") {
    // fragment one partition the way a streaming ingest would
    val p = tempDir("graft-store-compact")
    TsdbStore.ingest(spark, Tables.events(spark, Sf), p, Manifest)
    val dt = liveDts(p, "base").head
    fragmentDay(p, dt, perFile = 2)
    val nFrag = liveFiles(p, "base", dt)
    assert(nFrag >= 16, s"fragmentation setup failed: $nFrag files")
    val before = tbl(p, "base").filter(col("dt") === lit(dt)).drop("dt").cache()
    before.count()

    TsdbStore.compactPartition(spark, p, dt, targetFiles = 1)
    // the commit points the LIVE partition at the compacted files — a
    // reader of base sees the benefit
    val nAfter = liveFiles(p, "base", dt)
    assert(nAfter == 1, s"expected 1 compacted file in live partition, got $nAfter")
    val after = tbl(p, "base").filter(col("dt") === lit(dt)).drop("dt")
    assert(after.exceptAll(before).isEmpty && before.exceptAll(after).isEmpty,
      "compaction changed the row bag")
  }

  test("compaction covers every cascade family (agg / rate / quant)") {
    // repeated incremental upserts fragment the DERIVED tables the same
    // way streaming fragments base (each touched partition rewritten
    // by a multi-task job)
    val p = tempDir("graft-store-dcomp")
    TsdbStore.ingest(spark, Tables.events(spark, Sf), p, Manifest)
    // the day with the most valid counter deltas, so its sparse rate
    // partition still splits into several one-row files
    val dt = tbl(p, "rate_21600").groupBy(col("dt").cast("string")).count()
      .orderBy(col("count").desc).head().getString(0)
    fragmentDay(p, dt, perFile = 1)
    for (table <- Seq("agg_86400", "rate_21600", "quant_86400")) {
      val before = tbl(p, table).filter(col("dt") === lit(dt)).drop("dt").cache()
      before.count()
      // AQE may coalesce sparse partitions — any multi-file layout
      // exercises the compaction
      val nFrag = liveFiles(p, table, dt)
      assert(nFrag >= 2, s"$table fragmentation setup failed: $nFrag files")

      TsdbStore.compactPartition(spark, p, dt, targetFiles = 1, table = table)
      val nAfter = liveFiles(p, table, dt)
      assert(nAfter == 1, s"$table: expected 1 compacted file, got $nAfter")
      val after = tbl(p, table).filter(col("dt") === lit(dt)).drop("dt")
      assert(after.exceptAll(before).isEmpty && before.exceptAll(after).isEmpty,
        s"$table: compaction changed the row bag")
      before.unpersist()
    }
    // an unknown table or a non-cascade step is rejected loudly, not
    // silently written somewhere
    intercept[IllegalArgumentException] {
      TsdbStore.compactPartition(spark, p, "2024-01-01", table = "meta")
    }
    intercept[IllegalArgumentException] {
      TsdbStore.compactPartition(spark, p, "2024-01-01", table = "agg_3600")
    }
  }

  test("incremental upsert rewrites only touched partitions, equals full recompute") {
    import spark.implicits._
    val p = tempDir("graft-store-inc")
    val rawCols = Seq("user_id", "event_type", "event_id", "ts", "value")
    val raw = Tables.events(spark, Sf).selectExpr(rawCols: _*)
    TsdbStore.ingest(spark, raw, p, Manifest)
    val before = live(p)

    // one replayed row (same day, changed value) + one genuinely-late
    // row on a brand-new day
    val target = tbl(p, "base")
      .orderBy("dt", "user_id", "event_type", "event_id").limit(1)
      .select("user_id", "event_type", "event_id", "ts_us", "dt").head()
    val d1 = target.getDate(4).toString
    val d2 = "2024-03-05"
    // timestamp_micros keeps the original µs exactly — a Timestamp
    // built from millis would silently truncate and move the row
    val replay = Seq(
      (target.getLong(0), target.getString(1), target.getLong(2),
        target.getLong(3), 77.77),
      (7L, "click", 999999L,
        java.time.Instant.parse(s"${d2}T06:30:00Z").getEpochSecond * 1000000L, 12.34))
      .toDF("user_id", "event_type", "event_id", "ts_us_raw", "value")
      .select(col("user_id"), col("event_type"), col("event_id"),
        timestamp_micros(col("ts_us_raw")).as("ts"), col("value"))

    val touched = TsdbStore.upsertIncremental(spark, replay, p)
    assert(touched == Seq(d1, d2).sorted, s"touched=$touched")

    // blast radius: every partition outside the touched ones still
    // reads from the same write-once segment dir — except the RATE
    // cascade's successor partitions of touched days, whose first
    // delta depends on the touched day's last sample and which are
    // therefore legitimately recomputed
    val after = live(p)
    val rateNext = Set(d1, d2).map(x =>
      java.time.LocalDate.parse(x).plusDays(1).toString)
    before.foreach { case (k @ (t, dt), rel) =>
      if (dt != d1 && dt != d2 && !(t.startsWith("rate_") && rateNext(dt)))
        assert(after.get(k).contains(rel), s"untouched partition rewritten: $k")
    }
    val aggTables =
      Seq("base", s"agg_${TsdbStore.AggSteps.head}", s"agg_${TsdbStore.AggSteps.last}")
    val rateTables =
      Seq(s"rate_${TsdbStore.AggSteps.head}", s"rate_${TsdbStore.AggSteps.last}")
    aggTables.foreach { t =>
      assert(before.get((t, d1)) != after.get((t, d1)), s"$t/dt=$d1 not rewritten")
      assert(after.contains((t, d2)), s"$t/dt=$d2 not created for the late day")
    }
    rateTables.foreach { t =>
      assert(before.get((t, d1)) != after.get((t, d1)), s"$t/dt=$d1 not rewritten")
      // the late day's only sample is two months past its predecessor —
      // past the heartbeat, so its rate partition must NOT exist (the
      // empty-recompute path drops rather than installing junk)
      assert(!after.contains((t, d2)),
        s"$t/dt=$d2 created despite having no valid deltas")
    }

    // semantics: the incremental result equals a full recompute from
    // the patched raw feed, at every level of BOTH cascades
    val p2 = tempDir("graft-store-full")
    val patched = raw
      .withColumn("value",
        when(col("user_id") === target.getLong(0) &&
          col("event_type") === target.getString(1) &&
          col("event_id") === target.getLong(2), lit(77.77))
          .otherwise(col("value")))
      .unionByName(replay.filter(col("event_id") === 999999L))
    TsdbStore.ingest(spark, patched, p2)
    (aggTables ++ rateTables).foreach { t =>
      assert(rowsOf(p, t) == rowsOf(p2, t), s"incremental $t differs from full recompute")
    }
  }

  test("csv export/read round-trips a fetch result with explicit schema") {
    val b = 1704844800L; val e = 1705708800L
    val res = TsdbStore.fetch(spark, store, 7L, "click", b, e)
    val out = tempDir("graft-csv")
    TsdbStore.exportCsv(res, out)
    val back = TsdbStore.readCsv(spark, out, res.schema)
    assert(back.schema == res.schema, "schema did not round-trip")
    assert(back.exceptAll(res).isEmpty && res.exceptAll(back).isEmpty,
      "csv round-trip changed the row bag")
  }

  test("json export/read round-trips a fetch result") {
    val out = tempDir("graft-json")
    val res = TsdbStore.fetch(spark, store, 7L, "click", 1704067200L, 1706659200L)
    TsdbStore.exportJson(res, out)
    val back = TsdbStore.readJson(spark, out).select("ts_us", "value")
    assert(back.count() == res.count() && res.count() > 0)
    assert(back.exceptAll(res).isEmpty)
  }

  test("retention drops only pre-cutoff partitions at every level") {
    val p = tempDir("graft-store-ret")
    TsdbStore.ingest(spark,
      Tables.events(spark, Sf).selectExpr("user_id", "event_type", "event_id", "ts", "value"),
      p, Manifest)
    val cutoff = 1704844800L // 2024-01-10T00Z
    val keepFrom = java.time.LocalDate.parse("2024-01-10")
    val beforeKept = TsdbStore.fetch(spark, p, 7L, "click", cutoff, 1706659200L).collect()
    val dropped = TsdbStore.dropBefore(spark, p, cutoff)
    Seq("base", s"agg_${TsdbStore.AggSteps.head}", s"agg_${TsdbStore.AggSteps.last}",
      s"rate_${TsdbStore.AggSteps.head}", s"rate_${TsdbStore.AggSteps.last}")
      .foreach { t =>
        assert(dropped(t).nonEmpty, s"$t: nothing dropped")
        assert(dropped(t).forall(java.time.LocalDate.parse(_).isBefore(keepFrom)))
        val remaining = liveDts(p, t)
        assert(remaining.nonEmpty &&
          remaining.forall(!java.time.LocalDate.parse(_).isBefore(keepFrom)),
          s"$t: pre-cutoff partition survived")
      }
    // surviving range reads identically after retention
    val afterKept = TsdbStore.fetch(spark, p, 7L, "click", cutoff, 1706659200L).collect()
    assert(afterKept.sameElements(beforeKept), "retention disturbed surviving data")
  }

  test("fetch rejects unknown aggregate steps and cfs") {
    intercept[IllegalArgumentException] {
      TsdbStore.fetch(spark, store, 1L, "click", 0L, 1L, aggStep = 300L)
    }
    intercept[IllegalArgumentException] {
      TsdbStore.fetch(spark, store, 1L, "click", 0L, 1L, aggStep = 21600L, cf = "nope")
        .count()
    }
  }

  test("fetch cf=delta serves wrap-corrected heartbeat-validated deltas") {
    val b = 1704067200L; val e = 1706659200L
    val got = TsdbStore.fetch(spark, store, 7L, "click", b, e,
      aggStep = 21600L, cf = "delta")
    // recompute from raw with the declared-query expression tree
    // (q_ts_delta_sum's semantics applied to the store's cents column)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id", "event_type").orderBy("ts_us", "event_id")
    val cap = Tables.WrapCap
    val expected = Tables.measurements(spark, Sf)
      .filter(col("user_id") === 7L && col("event_type") === "click")
      .withColumn("prev_cents", lag("cents", 1).over(w))
      .withColumn("prev_ts_us", lag("ts_us", 1).over(w))
      .filter(col("prev_ts_us").isNotNull &&
        col("ts_us") - col("prev_ts_us") <= 21600L * 1000000L)
      .groupBy(graft.operators.TimeSeriesOps.slotSec(21600L).as("slot_ts"))
      .agg((sum(((col("cents") - col("prev_cents")) % cap + cap) % cap)
        .cast("double") / 100.0).as("value"))
      .filter(col("slot_ts") >= b && col("slot_ts") < e)
    assert(got.count() > 0)
    assert(got.exceptAll(expected).isEmpty && expected.exceptAll(got).isEmpty)
  }

  test("configurable 3-level chain (300s→3600s→86400s): ingest, upsert, retention") {
    val layout = StoreLayout(steps = Seq(300L, 3600L, 86400L), commit = "manifest")
    val p = tempDir("graft-store-3lvl")
    val raw = Tables.events(spark, Sf)
      .selectExpr("user_id", "event_type", "event_id", "ts", "value")
    TsdbStore.ingest(spark, raw, p, layout)
    assert(live(p).keys.map(_._1).toSet == Set("base", "agg_300", "agg_3600", "agg_86400",
      "rate_300", "rate_3600", "rate_86400",
      "quant_300", "quant_3600", "quant_86400"))

    // fetch at the middle level equals direct downsample of raw
    val got = TsdbStore.fetch(spark, p, 3L, "view",
      1704067200L, 1706659200L, aggStep = 3600L, cf = "average")
    val expected = graft.operators.TimeSeriesOps
      .downsample(Tables.measurements(spark, Sf)
        .filter(col("user_id") === 3L && col("event_type") === "view"), 3600L)
      .filter(col("slot_ts") >= 1704067200L && col("slot_ts") < 1706659200L)
      .select(col("slot_ts"),
        (col("sum_cents").cast("double") / 100.0 / col("n").cast("double")).as("value"))
    assert(got.count() > 0)
    assert(got.exceptAll(expected).isEmpty && expected.exceptAll(got).isEmpty)

    // incremental upsert equals a full recompute at EVERY level of the
    // configured chain, value and rate cascades alike
    import spark.implicits._
    val replay = Seq((7L, "click", 424243L,
        java.time.Instant.parse("2024-01-15T12:00:00Z").getEpochSecond * 1000000L, 5.55))
      .toDF("user_id", "event_type", "event_id", "ts_us_raw", "value")
      .select(col("user_id"), col("event_type"), col("event_id"),
        timestamp_micros(col("ts_us_raw")).as("ts"), col("value"))
    TsdbStore.upsertIncremental(spark, replay, p)
    val p2 = tempDir("graft-store-3lvl-full")
    TsdbStore.ingest(spark, raw.unionByName(replay), p2, layout.copy(commit = "rename"))
    ("base" +: layout.steps.flatMap(s => Seq(s"agg_$s", s"rate_$s")))
      .foreach { t =>
        assert(rowsOf(p, t) == rowsOf(p2, t),
          s"incremental $t differs from full recompute at 3-level chain")
      }

    // retention drops pre-cutoff partitions at all ten tables
    val dropped = TsdbStore.dropBefore(spark, p, 1704844800L)
    assert(dropped.keySet ==
      ("base" +: layout.steps.flatMap(s =>
        Seq(s"agg_$s", s"rate_$s", s"quant_$s"))).toSet)
    assert(dropped.values.forall(_.nonEmpty), s"dropped=$dropped")
  }

  test("layout validation rejects a non-dividing step chain") {
    import graft.sources.StoreLayout
    intercept[IllegalArgumentException] { StoreLayout(steps = Seq(3600L, 5400L)) }
    intercept[IllegalArgumentException] { StoreLayout(steps = Seq(7000L)) }
    intercept[IllegalArgumentException] { StoreLayout(steps = Seq.empty) }
  }

  test("monthly chunk mapping: dt=YYYY-MM partitions, pruning, whole-month retention") {
    val p = tempDir("graft-store-month")
    TsdbStore.ingest(spark,
      Tables.events(spark, Sf).selectExpr("user_id", "event_type", "event_id", "ts", "value"),
      p, StoreLayout(monthly = true, commit = "manifest"))
    val parts = liveDts(p, "base")
    assert(parts.nonEmpty && parts.forall(_.matches("\\d{4}-\\d{2}")),
      s"expected YYYY-MM partitions, got ${parts.toSeq}")

    // fetch contract identical to the daily layout, pruned at month level
    val b = 1704844800L; val e = 1705708800L
    val fetched = TsdbStore.fetch(spark, p, 7L, "click", b, e)
    val plan = fetched.queryExecution.executedPlan.toString
    assert(plan.linesIterator.exists(l =>
      l.contains("PartitionFilters") && l.contains("dt")),
      "month-partition pruning missing from fetch plan")
    val expected = Tables.measurements(spark, Sf)
      .filter(col("user_id") === 7L && col("event_type") === "click" &&
        col("ts_us") >= b * 1000000L && col("ts_us") < e * 1000000L)
      .select(col("ts_us"), (col("cents").cast("double") / 100.0).as("value"))
    assert(fetched.count() > 0)
    assert(fetched.exceptAll(expected).isEmpty && expected.exceptAll(fetched).isEmpty)

    // a cutoff INSIDE a month drops nothing (the whole partition must
    // precede the cutoff); a cutoff past month end drops it
    val midMonth = TsdbStore.dropBefore(spark, p, 1704844800L) // 2024-01-10
    assert(midMonth.values.forall(_.isEmpty), s"partial month dropped: $midMonth")
    val pastMonth = TsdbStore.dropBefore(spark, p,
      java.time.Instant.parse("2024-02-15T00:00:00Z").getEpochSecond)
    assert(pastMonth("base").contains("2024-01"), s"got $pastMonth")
  }

  test("bucketed layout option: per-series window plans zero exchanges") {
    import graft.sources.StoreLayout
    import org.apache.spark.sql.expressions.Window
    val p = tempDir("graft-store-bkt")
    TsdbStore.ingest(spark,
      Tables.events(spark, Sf).selectExpr("user_id", "event_type", "event_id", "ts", "value"),
      p, StoreLayout(buckets = 8))
    val name = TsdbStore.bucketedBaseTable(spark, p)
    val w = Window.partitionBy("user_id", "event_type").orderBy("ts_us", "event_id")
    val rated = spark.table(name)
      .withColumn("prev_cents", lag("cents", 1).over(w))
      .withColumn("dt_us", col("ts_us") - lag("ts_us", 1).over(w))
    val plan = rated.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"bucketed store did not remove the window shuffle:\n${plan.take(2000)}")
    // the same files remain plain-parquet-readable: fetch and the path
    // read agree with the table read
    assert(rated.count() > 0)
    assert(spark.table(name).count() == spark.read.parquet(s"$p/base").count())
    val fetched = TsdbStore.fetch(spark, p, 7L, "click", 1704844800L, 1705708800L)
    assert(fetched.count() > 0)
    // a fresh-session catalog re-registers instead of failing
    spark.sql(s"DROP TABLE $name")
    val name2 = TsdbStore.bucketedBaseTable(spark, p)
    assert(spark.table(name2).count() > 0)
  }

  test("incremental upsert makes partition-moving replays loud when asked") {
    import spark.implicits._
    val p = tempDir("graft-store-move")
    TsdbStore.ingest(spark,
      Tables.events(spark, Sf).selectExpr("user_id", "event_type", "event_id", "ts", "value"),
      p, Manifest)
    val victim = tbl(p, "base")
      .orderBy("dt", "user_id", "event_type", "event_id").limit(1).head()
    // same key, timestamp moved to a different day — violates the
    // slot-addressing precondition
    val moved = Seq((victim.getLong(0), victim.getString(1), victim.getLong(2),
        victim.getLong(3) + 40L * 86400L * 1000000L, 1.23))
      .toDF("user_id", "event_type", "event_id", "ts_us_raw", "value")
      .select(col("user_id"), col("event_type"), col("event_id"),
        timestamp_micros(col("ts_us_raw")).as("ts"), col("value"))
    val e = intercept[IllegalArgumentException] {
      TsdbStore.upsertIncremental(spark, moved, p, verifyNoPartitionMoves = true)
    }
    assert(e.getMessage.contains("partition-moving"), e.getMessage)
  }

  test("filled fetch gates the broadcast by grid size: identical rows, shuffle join past the gate") {
    val (b, e) = (1704844800L, 1705708800L) // 40 six-hour slots
    val key = "spark.graft.fill.broadcastCells"
    def exec(df: org.apache.spark.sql.DataFrame) = df.queryExecution.executedPlan.toString
    def run() = (
      TsdbStore.fetchFilled(spark, store, 7L, "click", b, e, aggStep = 21600L),
      TsdbStore.fetchBulkFilled(spark, store,
        Seq((7L, "click"), (3L, "view")), b, e, aggStep = 21600L))
    val (f1, bf1) = run()
    assert(exec(f1).contains("BroadcastHashJoin"),
      "request-sized grid should broadcast the fetched side")
    val (small, smallB) = (f1.collect().toSeq, bf1.collect().toSeq)
    // past the gate the explicit broadcast HINT is dropped and the
    // planner chooses from its own stats — emulate the at-scale
    // estimate (far above autoBroadcastJoinThreshold) by disabling
    // auto-broadcast, the way a multi-million-row present side would
    // exceed it naturally
    val auto = "spark.sql.autoBroadcastJoinThreshold"
    spark.conf.set(auto, "-1")
    try {
      // gate NOT crossed: the hint still forces a broadcast — small
      // requests broadcast regardless of planner stats
      val (f1b, _) = run()
      assert(exec(f1b).contains("BroadcastHashJoin"),
        "below the gate the hint must force the broadcast even with auto off")
      spark.conf.set(key, "10") // force the gate: 40 cells > 10
      val (f2, bf2) = run()
      assert(!exec(f2).contains("BroadcastHashJoin") &&
        exec(f2).contains("SortMergeJoin"),
        s"past the gate the re-attach must shuffle-join:\n${exec(f2)}")
      assert(!exec(bf2).contains("BroadcastHashJoin") &&
        exec(bf2).contains("SortMergeJoin"),
        "bulk filled fetch did not gate its broadcast")
      assert(f2.collect().toSeq == small, "gated fetchFilled changed rows")
      assert(bf2.collect().toSeq == smallB, "gated fetchBulkFilled changed rows")
    } finally { spark.conf.unset(key); spark.conf.unset(auto) }
  }

  test("fetchAuto: coarsest dividing step wins; raw fallback; bad input loud") {
    val b = 1704844800L; val e = 1705708800L
    // 12 h resolution over the default (6 h, 1 d) chain → the 6 h
    // cascade (coarsest step dividing 43200)
    val (s1, _) = TsdbStore.fetchAuto(spark, store, 7L, "click", b, e, 43200L)
    assert(s1 == 21600L)
    // a full day divides by the 1 d step → daily cascade
    val (s2, _) = TsdbStore.fetchAuto(spark, store, 7L, "click", b, e, 86400L)
    assert(s2 == 86400L)
    // nothing divides 10 s → raw samples, same rows as a base fetch
    val (s3, df3) = TsdbStore.fetchAuto(spark, store, 7L, "click", b, e, 10L)
    assert(s3 == 0L)
    val base = TsdbStore.fetch(spark, store, 7L, "click", b, e)
    assert(df3.exceptAll(base).isEmpty && base.exceptAll(df3).isEmpty)
    intercept[IllegalArgumentException] {
      TsdbStore.fetchAuto(spark, store, 7L, "click", b, e, 0L)
    }
  }

  test("bucketed store rejects plain-parquet upserts (bucket-file metadata)") {
    val p = tempDir("graft-store-bkt-guard")
    val feed = Tables.events(spark, Sf)
      .selectExpr("user_id", "event_type", "event_id", "ts", "value").limit(200)
    TsdbStore.ingest(spark, feed, p, StoreLayout(buckets = 2, commit = "manifest"))
    // the rewrite would install plain parquet files (no bucket-id file
    // naming) under the bucketed table — both upsert paths must
    // refuse, like compactPartition already does
    val one = feed.limit(1)
    Seq(intercept[IllegalArgumentException] { TsdbStore.upsertIncremental(spark, one, p) },
        intercept[IllegalArgumentException] { TsdbStore.upsert(spark, one, p) })
      .foreach(e => assert(e.getMessage.contains("bucket"), e.getMessage))
  }

  test("pre-1970 samples partition into their own (earlier) UTC day") {
    import spark.implicits._
    val p = tempDir("graft-store-pre1970")
    // -3600 s floor-divides to day 1969-12-31; truncate-toward-zero
    // `div` would misfile it under 1970-01-01, where driver-side
    // floorDiv pruning could then exclude it from fetch/retention
    val rows = Seq(
      (1L, "click", 1L,
        java.sql.Timestamp.from(java.time.Instant.parse("1969-12-31T23:00:00Z")), 1.0),
      (1L, "click", 2L,
        java.sql.Timestamp.from(java.time.Instant.parse("1970-01-01T01:00:00Z")), 2.0))
      .toDF("user_id", "event_type", "event_id", "ts", "value")
    TsdbStore.ingest(spark, rows, p)
    val parts = new java.io.File(s"$p/base").listFiles()
      .filter(_.getName.startsWith("dt=")).map(_.getName).toSet
    assert(parts == Set("dt=1969-12-31", "dt=1970-01-01"), s"got $parts")
    // dtPrune (driver floorDiv) and the partition key (column floor
    // division) agree: the pre-1970 sample is fetchable
    val got = TsdbStore.fetch(spark, p, 1L, "click", -86400L, 86400L)
    assert(got.count() == 2, "fetch lost the pre-1970 row")
  }

  test("metadata sidecar: derived intervals tile, as-of picks the boundary version") {
    import spark.implicits._
    val p = tempDir("graft-store-meta")
    val base = 1704067200000000L // 2024-01-01T00Z in µs
    val hour = 3600000000L
    // ingest a tiny sample store so fetchMetaAsof has a base table
    val samples = Seq(
      (1L, "click", 10L, base - hour, 1.0),       // BEFORE any version → NULLs
      (1L, "click", 11L, base + 2 * hour, 2.0),   // EXACTLY at v2's start → v2
      (1L, "click", 12L, base + 3 * hour, 3.0),   // inside v2 → v2
      (2L, "click", 13L, base + 5 * hour, 4.0))   // other key, one version → v9
      .toDF("user_id", "event_type", "event_id", "ts_us_raw", "value")
      .select(col("user_id"), col("event_type"), col("event_id"),
        timestamp_micros(col("ts_us_raw")).as("ts"), col("value"))
    TsdbStore.ingest(spark, samples, p)
    TsdbStore.ingestMetadata(spark, Seq(
        (1L, 1L, base, 100L),
        (1L, 2L, base + 2 * hour, 200L),
        (2L, 9L, base, 900L))
      .toDF("user_id", "ver_id", "valid_from_us", "speed_cents"), p)

    // derived valid_to_us: per key, each version ends where the next
    // begins; the last is open (Long.MaxValue) — gap-free tiling
    val meta = TsdbStore.readMetadata(spark, p)
      .orderBy("user_id", "valid_from_us")
      .select("user_id", "ver_id", "valid_from_us", "valid_to_us")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(meta == Seq(
      (1L, 1L, base, base + 2 * hour),
      (1L, 2L, base + 2 * hour, Long.MaxValue),
      (2L, 9L, base, Long.MaxValue)), s"got $meta")

    val got = TsdbStore.fetchMetaAsof(spark, p, "click",
        (base - 2 * hour) / 1000000L, (base + 24 * hour) / 1000000L)
      .select("event_id", "ver_id", "speed_cents")
      .collect().map(r => (r.getLong(0),
        Option(r.get(1)).map(_.asInstanceOf[Long]),
        Option(r.get(2)).map(_.asInstanceOf[Long]))).toSet
    assert(got == Set(
      (10L, None, None),           // no version valid yet
      (11L, Some(2L), Some(200L)), // ts == valid_from ⇒ that version
      (12L, Some(2L), Some(200L)),
      (13L, Some(9L), Some(900L))), s"got $got")
  }

  test("deleteSeries: the var vanishes at every level, equal to re-ingest of the filtered feed") {
    val p = tempDir("graft_del")
    val events = Tables.events(spark, Sf)
    TsdbStore.ingest(spark, events, p, Manifest)
    // a series with data but NOT in every partition, so some dts stay
    // untouched; fall back gracefully if the fixture fills every day
    val (uid, etype) = (7L, "click")
    val before = live(p)
    val touched = TsdbStore.deleteSeries(spark, p, uid, etype)
    assert(touched("base").nonEmpty, "fixture series should touch partitions")
    // untouched base partitions still read from their ingest segment
    val after = live(p)
    liveDts(p, "base").filterNot(touched("base").contains).foreach { dt =>
      assert(after(("base", dt)) == before(("base", dt)),
        s"untouched partition $dt was rewritten")
    }
    // every table equals a full re-ingest of the filtered feed
    val full = tempDir("graft_del_full")
    TsdbStore.ingest(spark,
      events.filter(!(col("user_id") === uid && col("event_type") === etype)), full)
    val tables = "base" +: TsdbStore.AggSteps.flatMap(s =>
      Seq(s"agg_$s", s"rate_$s", s"quant_$s"))
    tables.foreach { t =>
      assert(rowsOf(p, t) == rowsOf(full, t), s"deleteSeries $t differs from full recompute")
      assert(tbl(p, t).filter(col("user_id") === uid && col("event_type") === etype).isEmpty,
        s"series survived in $t")
    }
  }

  test("monthly layout: late row in the last hour of Feb updates Mar's boundary delta") {
    import spark.implicits._
    // VERDICT r5 next-round #8: the 28-day partitionSpanSec guard at a
    // real month boundary (leap Feb 2024), with a heartbeat-spanning
    // gap inside the month and a late row that becomes the month's new
    // LAST sample — so the successor partition's first delta must
    // change, proving the ±1-partition rate blast radius on the
    // monthly mapper
    val layout = StoreLayout(monthly = true, commit = "manifest")
    val p = tempDir("graft-store-feb")
    def ev(id: Long, iso: String, v: Double) =
      (1L, "ctr", id, java.time.Instant.parse(iso).getEpochSecond * 1000000L, v)
    val initial = Seq(
      ev(1L, "2024-02-26T10:00:00Z", 1.00),
      ev(2L, "2024-02-28T10:00:00Z", 5.00),  // 2-day gap > heartbeat: delta DROPPED
      ev(3L, "2024-02-28T12:00:00Z", 6.00),
      ev(4L, "2024-02-29T23:30:00Z", 9.00),  // pre-upsert last sample of Feb
      ev(5L, "2024-03-01T01:00:00Z", 11.00), // boundary delta Feb→Mar
      ev(6L, "2024-03-01T04:00:00Z", 12.00))
      .toDF("user_id", "event_type", "event_id", "ts_us_raw", "value")
      .select(col("user_id"), col("event_type"), col("event_id"),
        timestamp_micros(col("ts_us_raw")).as("ts"), col("value"))
    TsdbStore.ingest(spark, initial, p, layout)

    val marBefore = tbl(p, "rate_21600").filter(col("dt") === "2024-03")
      .select("slot_ts", "delta_cents", "dt_us").collect().toSet

    // the late row lands in Feb's LAST HOUR and becomes its new last
    // sample: Mar's first delta must now be 23:50→01:00, not 23:30→01:00
    val late = Seq(ev(7L, "2024-02-29T23:50:00Z", 10.00))
      .toDF("user_id", "event_type", "event_id", "ts_us_raw", "value")
      .select(col("user_id"), col("event_type"), col("event_id"),
        timestamp_micros(col("ts_us_raw")).as("ts"), col("value"))
    val touched = TsdbStore.upsertIncremental(spark, late, p)
    assert(touched == Seq("2024-02"), s"touched=$touched")

    val marAfter = tbl(p, "rate_21600").filter(col("dt") === "2024-03")
      .select("slot_ts", "delta_cents", "dt_us").collect().toSet
    assert(marAfter != marBefore,
      "successor month's boundary delta not recomputed")

    // equals a full recompute of the patched feed at every level
    val p2 = tempDir("graft-store-feb-full")
    TsdbStore.ingest(spark, initial.unionByName(late), p2, layout.copy(commit = "rename"))
    Seq("base", "agg_21600", "agg_86400", "rate_21600", "rate_86400").foreach { t =>
      assert(rowsOf(p, t) == rowsOf(p2, t),
        s"incremental $t differs from full recompute at the month boundary")
    }
    // and the heartbeat-spanning gap stayed invalid: no delta bridges
    // Feb 26 → Feb 28 (48 h ≫ 6 h heartbeat)
    val feb = tbl(p, "rate_21600").filter(col("dt") === "2024-02")
    assert(feb.filter(col("dt_us") > 21600L * 1000000L).count() == 0,
      "a heartbeat-spanning gap produced a delta")
  }

  test("every mutator on a rename store refuses before writing a file") {
    // the rename layout is written whole by ingest / ingestMetadata and
    // is read-only otherwise: each mutator names itself and points to
    // the manifest layout, and the store's files stay exactly as they
    // were (paths, sizes, modification times)
    def listing(): Seq[String] = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(store)).iterator().asScala
        .map(f => s"$f:${f.toFile.length()}:${f.toFile.lastModified()}").toSeq.sorted
    }
    val before = listing()
    val one = Tables.events(spark, Sf).limit(1)
    Seq[(String, () => Any)](
      "upsert" -> (() => TsdbStore.upsert(spark, one, store)),
      "upsertIncremental" -> (() => TsdbStore.upsertIncremental(spark, one, store)),
      "compactPartition" -> (() => TsdbStore.compactPartition(spark, store, "2024-01-10")),
      "deleteSeries" -> (() => TsdbStore.deleteSeries(spark, store, 7L, "click")),
      "dropBefore" -> (() => TsdbStore.dropBefore(spark, store, 1704844800L)),
      "streamIngestIncremental" -> (() => graft.streaming.StreamingOps
        .streamIngestIncremental(spark.readStream.format("rate").load(), store))
    ).foreach { case (op, run) =>
      val e = intercept[IllegalArgumentException](run())
      assert(e.getMessage.contains(s"$op needs the manifest layout") &&
        e.getMessage.contains("StoreLayout(commit = \"manifest\")"), e.getMessage)
    }
    assert(listing() == before, "a refused mutation wrote to the store")
  }

  // ---- stamped store-metadata cache + gathered fetch sorts -----------

  private val FB = 1704844800L
  private val FE = 1705708800L

  /** `body`'s value and the Spark jobs started while it ran. */
  private def jobsDuring[A](body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val n = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        n.incrementAndGet()
    }
    org.apache.spark.graftshim.ListenerBridge.flush(sc)
    sc.addSparkListener(l)
    try {
      val a = body
      org.apache.spark.graftshim.ListenerBridge.flush(sc)
      (a, n.get)
    } finally sc.removeSparkListener(l)
  }

  /** The nine sorted fetch-surface frames with their sort keys. */
  private def sortedFetches(p: String)
      : Seq[(String, org.apache.spark.sql.DataFrame, Seq[String])] = {
    val two = Seq((7L, "click"), (3L, "view"))
    val bulkKey = Seq("user_id", "event_type", "slot_ts")
    Seq(
      ("fetch raw", TsdbStore.fetch(spark, p, 7L, "click", FB, FE), Seq("ts_us")),
      ("fetch agg", TsdbStore.fetch(spark, p, 7L, "click", FB, FE, 21600L, "max"),
        Seq("slot_ts")),
      ("fetchQuantile",
        TsdbStore.fetchQuantile(spark, p, 7L, "click", FB, FE, 86400L, 0.95), Seq("slot_ts")),
      ("fetchFleetQuantile",
        TsdbStore.fetchFleetQuantile(spark, p, "click", FB, FE, 86400L, 0.5), Seq("slot_ts")),
      ("fetchBulkQuantile",
        TsdbStore.fetchBulkQuantile(spark, p, two, FB, FE, 86400L, 0.95), bulkKey),
      ("fetchFilled", TsdbStore.fetchFilled(spark, p, 7L, "click", FB, FE, 21600L),
        Seq("slot_ts")),
      ("fetchBulk raw", TsdbStore.fetchBulk(spark, p, two, FB, FE, 0L),
        Seq("user_id", "event_type", "ts_us")),
      ("fetchBulk rate", TsdbStore.fetchBulk(spark, p, two, FB, FE, 21600L, "rate"), bulkKey),
      ("fetchBulkFilled", TsdbStore.fetchBulkFilled(spark, p, two, FB, FE, 21600L), bulkKey))
  }

  test("a warm store builds every fetch-surface frame with zero Spark jobs") {
    def build(): Unit = {
      sortedFetches(store)
      TsdbStore.fetchFilled(spark, store, 7L, "click", FB, FE, 21600L, fill = "interp")
      TsdbStore.fetchAuto(spark, store, 7L, "click", FB, FE, 3600L)
      TsdbStore.fetchAuto(spark, store, 7L, "click", FB, FE, 86400L)
      TsdbStore.fetchBulkAuto(spark, store, Seq((7L, "click")), FB, FE, 43200L)
      TsdbStore.listSeries(spark, store)
    }
    build() // warms the metadata cache
    val (_, jobs) = jobsDuring(build())
    assert(jobs == 0, s"building fetch frames on a warm store ran $jobs Spark jobs")
  }

  test("the cached schema of every store table equals a fresh inference") {
    val tables = new java.io.File(store).listFiles().filter(_.isDirectory).map(_.getName)
    assert(tables.length == 7)
    tables.foreach { t =>
      assert(TsdbStore.tableSchema(spark, store, TsdbStore.storeMeta(spark, store), t) == spark.read.parquet(s"$store/$t").schema,
        s"cached schema of $t differs from inference")
    }
    val (_, jobs) = jobsDuring(tables.foreach(TsdbStore.readTable(spark, store, _)))
    assert(jobs == 0, s"cached table reads ran $jobs Spark jobs")
  }

  test("sorted fetches gather to one partition: same rows, same order, no range exchange") {
    def ranged(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.executedPlan.toString.toLowerCase.contains("rangepartitioning")
    sortedFetches(store).foreach { case (name, df, key) =>
      assert(!ranged(df), s"$name plans a range exchange")
      // the former shape: a range-partitioned global sort of the same rows
      val old = df.repartition(4).orderBy(key.map(col): _*)
      assert(ranged(old))
      val rows = df.collect().toSeq
      assert(rows.nonEmpty, s"$name returned nothing")
      assert(rows.map(r => key.map(r.getAs[Any])).distinct.size == rows.size,
        s"$name: sort key not unique, so row order is not determined")
      assert(rows == old.collect().toSeq, s"$name: rows or their order changed")
    }
  }

  test("a fetch composed under a join or aggregate drops its gather along with its sort") {
    import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Repartition, Sort}
    import spark.implicits._
    def gathers(df: org.apache.spark.sql.DataFrame): Seq[LogicalPlan] =
      df.queryExecution.optimizedPlan.collect {
        case r: Repartition if r.numPartitions == 1 => r
      }
    def orphans(df: org.apache.spark.sql.DataFrame): Int = {
      val plan = df.queryExecution.optimizedPlan
      val sorted = plan.collect { case s: Sort => s.child }
      gathers(df).count(g => !sorted.exists(_ eq g))
    }
    val two = Seq((7L, "click"), (3L, "view"))
    val raw = TsdbStore.fetchBulk(spark, store, two, FB, FE, 0L)
    val dims = Seq((7L, "click", "a"), (3L, "view", "b")).toDF("user_id", "event_type", "grp")
    assert(gathers(raw).size == 1, "a direct fetch sorts on its gather")
    val joined = raw.join(dims, Seq("user_id", "event_type"))
    val counted = raw.groupBy("user_id").agg(count(lit(1)), max("value"))
    Seq("join" -> joined, "count/max" -> counted).foreach { case (name, df) =>
      assert(gathers(df).isEmpty, s"$name: the sort went but its gather stayed")
    }
    // an order-sensitive aggregate (a double average) keeps the sort, and so the gather
    val averaged = raw.groupBy("user_id").agg(avg("value"))
    Seq(joined, counted, averaged).foreach(df => assert(orphans(df) == 0))
    assert(joined.count() == raw.count())
    // a caller's own single-partition repartition is not the fetch's to drop
    val own = TsdbStore.readTable(spark, store, "base").repartition(1)
      .join(dims, Seq("user_id", "event_type"))
    assert(gathers(own).size == 1)
  }

  test("a metadata re-ingest with a new column, and a bare touchDataStamp, invalidate the cache") {
    import spark.implicits._
    val p = tempDir("graft-store-stamp")
    TsdbStore.initStore(spark, p)
    val v1 = Seq((1L, 10L, 1000L), (1L, 11L, 2000L)).toDF("user_id", "ver_id", "valid_from_us")
    TsdbStore.ingestMetadata(spark, v1, p)
    assert(!TsdbStore.readMetadata(spark, p).columns.contains("speed_cents"))
    TsdbStore.ingestMetadata(spark, v1.withColumn("speed_cents", lit(5L)), p)
    assert(TsdbStore.readMetadata(spark, p).columns.contains("speed_cents"),
      "the re-ingested column is invisible: stale cached schema")
    // a writer bypassing the store's mutators leaves the stamp alone, so
    // reads keep the cached schema until the stamp moves
    v1.withColumn("valid_to_us", lit(Long.MaxValue)).withColumn("mtu", lit(1500L))
      .write.mode("overwrite").parquet(s"$p/meta")
    assert(!TsdbStore.readMetadata(spark, p).columns.contains("mtu"))
    TsdbStore.touchDataStamp(spark, p)
    val after = TsdbStore.readMetadata(spark, p)
    assert(after.columns.contains("mtu"), "touchDataStamp did not invalidate the cache")
    assert(after.select("mtu").as[Long].collect().toSeq == Seq(1500L, 1500L))
  }

  test("a store without _DATA_STAMP still fetches correctly, uncached") {
    def read() = TsdbStore.fetch(spark, store, 7L, "click", FB, FE, 21600L)
    val want = read().collect().toSeq
    Seq("_DATA_STAMP", "._DATA_STAMP.crc").foreach(f => new java.io.File(s"$store/$f").delete())
    try {
      val (df, jobs) = jobsDuring(read())
      assert(jobs > 0, "an unstamped store must infer its schema on every read")
      assert(df.collect().toSeq == want)
    } finally TsdbStore.touchDataStamp(spark, store)
  }
}
