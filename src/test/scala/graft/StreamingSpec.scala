package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.sources.{StoreLayout, TsdbStore}
import graft.streaming.StreamingOps
import graft.streaming.StreamingOps.{GapAlert, Meas, RateSample}

/** Structured Streaming semantics with MemoryStream (SURVEY.md §2 K):
  * watermark late-drop, streaming dedup, and custom keyed state
  * carried across microbatches. */
class StreamingSpec extends SparkSpec {

  private def ts(s: String) = Timestamp.valueOf(s)

  /** Streaming ingest commits through the manifest layout, so a stream
    * into a fresh path stamps it first. */
  private val Manifest = StoreLayout(commit = "manifest")

  test("file-source stream replays the events fixture (ingest path)") {
    val m = StreamingOps.asMeasurements(
      StreamingOps.eventFileStream(spark, Sf))
    val q = m.writeStream.format("memory").queryName("ingest")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val n = spark.table("ingest").count()
      assert(n == spark.read.parquet(s"$Sf/events.parquet").count())
    } finally q.stop()
  }

  test("tumbling window + watermark: closed windows final, late rows dropped") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Timestamp, String, Double)]
    val m = StreamingOps.tumblingCounts(
      in.toDF().toDF("ts", "event_type", "value")
        .select(col("ts"), col("event_type"),
          expr("CAST(round(value*100) AS BIGINT)").as("cents")))
    val q = m.writeStream.format("memory").queryName("tumbling")
      .outputMode("append").start()
    try {
      in.addData((ts("2024-01-01 10:00:05"), "click", 1.0),
        (ts("2024-01-01 10:30:00"), "click", 2.0))
      q.processAllAvailable()
      // advance watermark far past 11:00 so the 10:00 window closes
      in.addData((ts("2024-01-01 13:00:00"), "click", 3.0))
      q.processAllAvailable()
      // late row for the closed 10:00 window: must be dropped
      in.addData((ts("2024-01-01 10:45:00"), "click", 4.0))
      q.processAllAvailable()
      val out = spark.table("tumbling")
        .select(col("w_start").cast("string"), col("n")).collect()
        .map(r => (r.getString(0), r.getLong(1))).toMap
      assert(out.get("2024-01-01 10:00:00").contains(2L),
        s"10:00 window wrong: $out")
      assert(!out.contains("2024-01-01 13:00:00"), "unclosed window emitted")
    } finally q.stop()
  }

  test("dropDuplicatesWithinWatermark removes replayed event ids") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Timestamp)]
    val q = StreamingOps.dedupStream(in.toDF().toDF("event_id", "ts"))
      .writeStream.format("memory").queryName("dedup")
      .outputMode("append").start()
    try {
      in.addData((1L, ts("2024-01-01 10:00:00")), (2L, ts("2024-01-01 10:00:01")))
      q.processAllAvailable()
      in.addData((1L, ts("2024-01-01 10:00:02")), (3L, ts("2024-01-01 10:00:03")))
      q.processAllAvailable()
      val ids = spark.table("dedup").select("event_id").as[Long].collect().sorted
      assert(ids.toSeq == Seq(1L, 2L, 3L), s"got ${ids.toSeq}")
    } finally q.stop()
  }

  test("dedupEvents on bounded input is the batch fixpoint of the streaming dedup") {
    import spark.implicits._
    // Spark rejects dropDuplicatesWithinWatermark on batch DataFrames;
    // the dispatcher must fall back to exact key dedup — the answer the
    // streaming form converges to once every duplicate lands inside the
    // horizon (the q_stream_dedup oracle relies on this equivalence)
    val batch = Seq((1L, ts("2024-01-01 10:00:00")), (2L, ts("2024-01-01 10:00:01")),
        (1L, ts("2024-01-01 10:00:02")), (3L, ts("2024-01-01 10:00:03")))
      .toDF("event_id", "ts")
    assert(!batch.isStreaming)
    val ids = StreamingOps.dedupEvents(batch)
      .select("event_id").as[Long].collect().sorted
    assert(ids.toSeq == Seq(1L, 2L, 3L), s"got ${ids.toSeq}")
  }

  test("streaming DAU: dedup-then-count emits one final row per closed day") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, String, Timestamp)]
    val q = StreamingOps.dauCounts(
        in.toDF().toDF("user_id", "event_type", "ts"))
      .writeStream.format("memory").queryName("dau")
      .outputMode("append").start()
    try {
      // day 1: users 1,2 click (1 twice — must count once), 1 views
      in.addData((1L, "click", ts("2024-01-01 09:00:00")),
        (1L, "click", ts("2024-01-01 15:00:00")),
        (2L, "click", ts("2024-01-01 10:00:00")),
        (1L, "view", ts("2024-01-01 11:00:00")))
      q.processAllAvailable()
      // advance the watermark past day-1 midnight so day 1 closes
      in.addData((9L, "click", ts("2024-01-02 06:00:00")))
      q.processAllAvailable()
      in.addData((9L, "click", ts("2024-01-03 06:00:00")))
      q.processAllAvailable()
      val out = spark.table("dau")
        .select(col("w_start").cast("string"), col("event_type"), col("dau"))
        .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
      assert(out.get(("2024-01-01 00:00:00", "click")).contains(2L),
        s"day-1 click DAU wrong: $out")
      assert(out.get(("2024-01-01 00:00:00", "view")).contains(1L),
        s"day-1 view DAU wrong: $out")
      assert(!out.keys.exists(_._1 == "2024-01-03 00:00:00"),
        "unclosed day emitted")
    } finally q.stop()
  }

  test("stream-stream interval join matches within window, ages out state") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[(Long, Long, Timestamp)]
    val buys = MemoryStream[(Long, Long, Timestamp)]
    val q = StreamingOps.intervalJoinStream(
        clicks.toDF(), buys.toDF(), windowUs = 3600L * 1000000L)
      .writeStream.format("memory").queryName("sjoin")
      .outputMode("append").start()
    try {
      clicks.addData((10L, 1L, ts("2024-01-01 10:00:00")),
        (11L, 2L, ts("2024-01-01 10:05:00")))
      buys.addData(
        (20L, 1L, ts("2024-01-01 10:30:00")),  // in window for click 10
        (21L, 1L, ts("2024-01-01 11:30:00")),  // past 1h: no match
        (22L, 3L, ts("2024-01-01 10:10:00")))  // wrong key
      q.processAllAvailable()
      val got = spark.table("sjoin").as[(Long, Long)].collect().toSet
      assert(got == Set((10L, 20L)), s"got $got")
    } finally q.stop()
  }

  test("stream-static join enriches each microbatch against a dim table") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dim = Seq((1L, "gold"), (2L, "basic")).toDF("user_id", "tier")
    val in = MemoryStream[(Long, Long, Timestamp)]
    val q = in.toDF().toDF("event_id", "user_id", "ts")
      .join(broadcast(dim), Seq("user_id"), "left")
      .writeStream.format("memory").queryName("ssjoin")
      .outputMode("append").start()
    try {
      in.addData((100L, 1L, ts("2024-01-01 10:00:00")),
        (101L, 3L, ts("2024-01-01 10:00:01")))
      q.processAllAvailable()
      val got = spark.table("ssjoin").select("event_id", "tier").collect()
        .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
      assert(got == Map(100L -> Some("gold"), 101L -> None), s"got $got")
    } finally q.stop()
  }

  test("streaming ingest lands microbatches in the dt-partitioned store") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val store = tempDir("graft-stream-store")
    TsdbStore.initStore(spark, store, Manifest)
    val in = MemoryStream[(Long, String, Long, Timestamp, Double)]
    val q = StreamingOps.streamIngestIncremental(
        in.toDF().toDF("user_id", "event_type", "event_id", "ts", "value"), store)
      .outputMode("update")
      .option("checkpointLocation", s"$store/_ckpt")
      .start()
    try {
      in.addData((1L, "click", 1L, ts("2024-01-01 10:00:00"), 1.00))
      q.processAllAvailable()
      in.addData((1L, "click", 2L, ts("2024-01-02 11:00:00"), 2.00))
      q.processAllAvailable()
      val base = TsdbStore.readTable(spark, store, "base")
      assert(base.count() == 2)
      val parts = base.select("dt").distinct().collect().map(_.get(0).toString).sorted
      assert(parts.toSeq == Seq("2024-01-01", "2024-01-02"))
    } finally q.stop()
  }

  test("incremental streaming ingest maintains the cascade per microbatch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val store = tempDir("graft-stream-inc")
    TsdbStore.initStore(spark, store, Manifest)
    val in = MemoryStream[(Long, String, Long, Timestamp, Double)]
    val q = StreamingOps.streamIngestIncremental(
        in.toDF().toDF("user_id", "event_type", "event_id", "ts", "value"), store)
      .outputMode("update")
      .option("checkpointLocation", s"$store/_ckpt")
      .start()
    try {
      in.addData(
        (1L, "click", 10L, ts("2024-01-01 10:00:00"), 1.00),
        (1L, "click", 11L, ts("2024-01-02 11:00:00"), 2.00))
      q.processAllAvailable()
      // late microbatch: replay event 10 with a new value + a late row
      // on a new day — only those days' partitions get recomputed
      in.addData(
        (1L, "click", 10L, ts("2024-01-01 10:00:00"), 5.00),
        (1L, "click", 12L, ts("2024-01-05 09:00:00"), 3.00))
      q.processAllAvailable()
      val base = TsdbStore.readTable(spark, store, "base")
      assert(base.count() == 3, "replay must overwrite, late row must append")
      assert(base.filter(col("event_id") === 10L).select("cents").head().getLong(0) == 500L)
      // the cascade reflects the post-replay values without a rebuild
      val agg1d = TsdbStore.readTable(spark, store, "agg_86400")
      val day1 = agg1d.filter(col("slot_ts") === 1704067200L).select("sum_cents")
      assert(day1.head().getLong(0) == 500L, "cascade not updated by replay")
      assert(agg1d.count() == 3, "one daily slot per day expected")
      // the QUANTILE cascade follows the same per-microbatch contract:
      // the replayed value (not the original) is what the sketch holds
      val q1 = TsdbStore.readTable(spark, store, "quant_86400")
        .filter(col("slot_ts") === 1704067200L).select("value")
        .head().getSeq[Double](0)
      assert(q1 == Seq(500.0), s"quant cascade not updated by replay: $q1")
    } finally q.stop()
  }

  test("streaming ingest maintains the RATE cascade: parity with batch after N microbatches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // VERDICT r5 next-round #6: the microbatch ingest path must leave
    // rate_<step> identical to one batch ingest of the same feed —
    // including a wrap, a heartbeat-spanning gap, and a LATE row that
    // splits an earlier batch's delta and re-derives the successor
    // partition's boundary delta
    val store = tempDir("graft-stream-rate")
    TsdbStore.initStore(spark, store, Manifest)
    val in = MemoryStream[(Long, String, Long, Timestamp, Double)]
    val q = StreamingOps.streamIngestIncremental(
        in.toDF().toDF("user_id", "event_type", "event_id", "ts", "value"), store)
      .outputMode("update")
      .option("checkpointLocation", s"$store/_ckpt")
      .start()
    val batches = Seq(
      Seq((1L, "ctr", 1L, ts("2024-01-01 10:00:00"), 1.00),
        (1L, "ctr", 2L, ts("2024-01-01 12:00:00"), 3.00)),
      // crosses the day boundary within heartbeat, and WRAPS (counter
      // drops 9999.00 → 2.00: delta = 300 cents mod 1e6)
      Seq((1L, "ctr", 3L, ts("2024-01-01 23:00:00"), 9999.00),
        (1L, "ctr", 4L, ts("2024-01-02 01:00:00"), 2.00)),
      // 47 h gap (dropped past heartbeat) + late row INSIDE day 1:
      // 12:00→23:00 (11 h, invalid) becomes 12:00→13:00 (valid) +
      // 13:00→23:00 (invalid), and day 2's boundary delta re-derives
      Seq((1L, "ctr", 5L, ts("2024-01-04 01:00:00"), 50.00),
        (1L, "ctr", 6L, ts("2024-01-01 13:00:00"), 4.00)))
    try {
      batches.foreach { b => in.addData(b: _*); q.processAllAvailable() }
    } finally q.stop()
    val p2 = tempDir("graft-stream-rate-batch")
    TsdbStore.ingest(spark,
      batches.flatten.toDF("user_id", "event_type", "event_id", "ts", "value"), p2)
    Seq("rate_21600", "rate_86400", "agg_21600", "agg_86400").foreach { t =>
      val a = TsdbStore.readTable(spark, store, t)
      val b = TsdbStore.readTable(spark, p2, t)
      assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
        s"streaming $t differs from the batch cascade")
    }
    // the wrap delta actually landed (sanity that the case fired)
    val wrapSlot = TsdbStore.readTable(spark, store, "rate_21600")
      .filter(col("slot_ts") === ts("2024-01-02 00:00:00").getTime / 1000)
      .select("delta_cents").head().getLong(0)
    assert(wrapSlot == 300L, s"wrap delta wrong: $wrapSlot")
  }

  test("HLL sketch aggregates incrementally across microbatches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val build = udaf(new graft.functions.HllBuild)
    val in = MemoryStream[(Timestamp, Long)]
    // sketch per tumbling hour, built statefully across microbatches —
    // the online form of the per-day cascade sketches (the buffer is
    // the register array, carried in the state store)
    val q = in.toDF().toDF("ts", "user_id")
      .groupBy(window(col("ts"), "1 hour"))
      .agg(build(xxhash64(col("user_id"))).as("sketch"))
      .writeStream.format("memory").queryName("hll_stream")
      .outputMode("complete").start()
    try {
      in.addData((ts("2024-01-01 10:05:00"), 1L), (ts("2024-01-01 10:10:00"), 2L))
      q.processAllAvailable()
      in.addData((ts("2024-01-01 10:20:00"), 2L), (ts("2024-01-01 10:25:00"), 3L))
      q.processAllAvailable()
      val sketch = spark.table("hll_stream")
        .select("sketch").head().getAs[Array[Byte]](0)
      // streaming result == batch build over the union, bit for bit
      val batch = Seq(1L, 2L, 2L, 3L).toDF("user_id")
        .agg(build(xxhash64(col("user_id")))).head().getAs[Array[Byte]](0)
      assert(sketch.sameElements(batch),
        "streaming sketch differs from batch build over the same rows")
      assert(graft.functions.Hll.estimate(sketch) == 3L)
    } finally q.stop()
  }

  test("Misra-Gries heavy hitters build statefully across microbatches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mg = udaf(new graft.functions.MisraGries(3))
    val in = MemoryStream[String]
    // frequent-items summary carried in the state store across
    // microbatches — the online form of the per-day corpus heavy
    // hitters. Counter values are merge-order dependent (only the
    // bound is canonical — MisraGries scaladoc), so the assertion is
    // the GUARANTEE, not bit equality.
    val q = in.toDF().toDF("w")
      .agg(mg(col("w")).as("summary"))
      .writeStream.format("memory").queryName("mg_stream")
      .outputMode("complete").start()
    try {
      in.addData("a", "b", "a", "c", "a")
      q.processAllAvailable()
      in.addData("a", "d", "a", "e", "a", "b")
      q.processAllAvailable()
      val row = spark.table("mg_stream").select("summary.*").head()
      val sum = graft.functions.MgSummary(
        row.getAs[scala.collection.Seq[String]](0).toArray,
        row.getAs[scala.collection.Seq[Long]](1).toArray)
      // n=11 rows, k=3 ⇒ error ≤ n/(k+1) = 2; f(a)=6 > 2 ⇒ "a" must
      // be present with 4 ≤ estimate ≤ 6
      val est = sum.estimate("a")
      assert(est >= 4L && est <= 6L, s"estimate for 'a' out of bound: $est")
    } finally q.stop()
  }

  test("bottom-k quantile sample builds statefully across microbatches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val bk = udaf(new graft.functions.BottomKQuantile)
    val in = MemoryStream[(Long, Double)]
    // the quantile sketch carried in the state store across
    // microbatches — the semilattice merge makes the streaming build
    // IDENTICAL to one batch build (bit for bit, like HLL and unlike
    // Misra-Gries counters), regardless of how rows split into batches
    val q = in.toDF().toDF("id", "value")
      .agg(bk(xxhash64(col("id")), col("value")).as("sample"))
      .writeStream.format("memory").queryName("bk_stream")
      .outputMode("complete").start()
    try {
      val rows = (0L until 2000L).map(i => (i, (i % 100).toDouble))
      in.addData(rows.take(700))
      q.processAllAvailable()
      in.addData(rows.drop(700))
      q.processAllAvailable()
      val stream = spark.table("bk_stream").as[Seq[Double]].head()
      val batch = rows.toDF("id", "value")
        .agg(bk(xxhash64(col("id")), col("value"))).as[Seq[Double]].head()
      assert(stream == batch,
        "streaming sample differs from batch build over the same rows")
      assert(stream.length == graft.functions.BottomKSample.K)
      // values are 0..99 uniform ⇒ the sample median sits near 50
      val p50 = graft.functions.BottomKSample.quantile(stream.toArray, 0.5)
      assert(math.abs(p50 - 50.0) < 10.0, s"sample median $p50 far from 50")
    } finally q.stop()
  }

  test("theta sketch builds statefully across microbatches, with duplicates") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val th = udaf(new graft.functions.ThetaSketchAgg)
    val in = MemoryStream[Long]
    // the distinct sketch in streaming state: a true set-union
    // semilattice, so (a) microbatch placement is invisible and (b)
    // re-delivered elements (at-least-once sources!) cannot change the
    // sketch — the distinct-add absorbs them, completing the in-state
    // family (HLL, MG, count-min, bottom-k, theta)
    val q = in.toDF().toDF("id")
      .select((xxhash64(col("id")).bitwiseAND(lit(Long.MaxValue))).as("h63"))
      .agg(th(col("h63")).as("sk"))
      .writeStream.format("memory").queryName("theta_stream")
      .outputMode("complete").start()
    try {
      in.addData(0L until 900L)
      q.processAllAvailable()
      in.addData(600L until 2000L)  // 300 re-delivered duplicates
      q.processAllAvailable()
      val stream = spark.table("theta_stream").as[Seq[Long]].head()
      val batch = (0L until 2000L).toDF("id")
        .select((xxhash64(col("id")).bitwiseAND(lit(Long.MaxValue))).as("h63"))
        .agg(th(col("h63"))).as[Seq[Long]].head()
      assert(stream == batch,
        "streaming sketch differs from batch build over the same set")
      val est = graft.functions.ThetaSketch.estimate(stream.toArray)
      assert(math.abs(est - 2000.0) <= 4 * 2000.0 /
        math.sqrt(graft.functions.ThetaSketch.K - 2.0),
        s"estimate $est far from 2000")
    } finally q.stop()
  }

  test("sliding windows emit one row per overlapping window (streaming)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Timestamp, String)]
    val q = StreamingOps.slidingCounts(
        in.toDF().toDF("ts", "event_type"))
      .writeStream.format("memory").queryName("sliding")
      .outputMode("append").start()
    try {
      in.addData((ts("2024-01-01 10:31:00"), "click"))
      q.processAllAvailable()
      in.addData((ts("2024-01-01 14:00:00"), "click")) // close them all
      q.processAllAvailable()
      val starts = spark.table("sliding")
        .filter(col("n") === 1L).select(col("w_start").cast("string"))
        .as[String].collect().sorted.toSeq
      // 1 h window, 15 min slide: the 10:31 event belongs to starts
      // 09:45, 10:00, 10:15, 10:30
      assert(starts == Seq("2024-01-01 09:45:00", "2024-01-01 10:00:00",
        "2024-01-01 10:15:00", "2024-01-01 10:30:00"), s"got $starts")
    } finally q.stop()
  }

  test("session windows merge within gap and split across it (streaming)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Timestamp, Long)]
    val q = StreamingOps.sessionCounts(
        in.toDF().toDF("ts", "user_id"))
      .writeStream.format("memory").queryName("sessions")
      .outputMode("append").start()
    try {
      // two events 10 min apart (one session), then 2 h later (new one)
      in.addData((ts("2024-01-01 10:00:00"), 1L), (ts("2024-01-01 10:10:00"), 1L),
        (ts("2024-01-01 12:10:00"), 1L))
      q.processAllAvailable()
      // push the watermark far ahead so both sessions finalize
      in.addData((ts("2024-01-02 00:00:00"), 2L))
      q.processAllAvailable()
      val out = spark.table("sessions").filter(col("user_id") === 1L)
        .select(col("s_start").cast("string"), col("n")).collect()
        .map(r => (r.getString(0), r.getLong(1))).toMap
      assert(out == Map("2024-01-01 10:00:00" -> 2L, "2024-01-01 12:10:00" -> 1L),
        s"got $out")
    } finally q.stop()
  }

  test("heartbeat gap detection carries state across microbatches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Meas]
    val q = StreamingOps.heartbeatGaps(in.toDS(), hbUs = 3600L * 1000000L)
      .writeStream.format("memory").queryName("gaps")
      .outputMode("append").start()
    try {
      in.addData(Meas(1L, "click", 0L, 100L), Meas(1L, "click", 60L * 1000000L, 200L))
      q.processAllAvailable()
      // next batch: 10h after the stored last-seen → one alert, only if
      // state survived the batch boundary
      in.addData(Meas(1L, "click", 36000L * 1000000L, 300L))
      q.processAllAvailable()
      val alerts = spark.table("gaps").as[GapAlert].collect()
      assert(alerts.length == 1, s"expected 1 alert, got ${alerts.toSeq}")
      assert(alerts.head.from_us == 60L * 1000000L &&
        alerts.head.to_us == 36000L * 1000000L)
    } finally q.stop()
  }

  test("online rates: wrap + heartbeat drop + state across microbatches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val M = 1000000L
    val in = MemoryStream[Meas]
    val q = StreamingOps.onlineRates(in.toDS(), hbUs = 3600L * M, wrapCap = 1000L)
      .writeStream.format("memory").queryName("rates")
      .outputMode("append").start()
    try {
      in.addData(Meas(1L, "click", 0L, 100L), Meas(1L, "click", 60L * M, 300L))
      q.processAllAvailable()
      // batch 2: predecessor comes from STATE; the counter wrapped
      // (300 → 50 under cap 1000 ⇒ delta 750); then a 10 h gap sample
      // whose delta must be dropped (heartbeat), but which still
      // becomes the new last-seen
      val gapTs = 120L * M + 36000L * M
      in.addData(Meas(1L, "click", 120L * M, 50L), Meas(1L, "click", gapTs, 60L))
      q.processAllAvailable()
      // batch 3: delta off the post-gap sample (state updated even
      // when the gap delta was invalid — same as the batch cascade)
      in.addData(Meas(1L, "click", gapTs + 60L * M, 160L))
      q.processAllAvailable()
      val out = spark.table("rates").as[RateSample].collect().sortBy(_.ts_us)
      assert(out.map(r => (r.ts_us, r.delta_cents, r.dt_us)).toSeq == Seq(
        (60L * M, 200L, 60L * M),
        (120L * M, 750L, 60L * M),
        (gapTs + 60L * M, 100L, 60L * M)),
        s"got ${out.toSeq}")
      // rate = delta_cents/100 per second
      assert(out.head.rate == 200.0 / 100.0 / 60.0)
    } finally q.stop()
  }

  test("online Holt: state across microbatches equals the sequential fold " +
      "bit-for-bit, at any batch split") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val M = 1000000L
    val rng = new scala.util.Random(11)
    val vs = Seq.fill(40)((rng.nextInt(9000) + 100).toLong)
    val rows = vs.zipWithIndex.map { case (v, i) =>
      StreamingOps.MeasK(1L, "click", i * 60L * M, i.toLong, v)
    }
    // the reference: the same scalar recurrence (HoltSpec's form)
    val (el, et) = vs.map(_.toDouble).tail
      .foldLeft((vs.head.toDouble, 0.0)) { case ((l, t), x) =>
        val l2 = 0.2 * x + (1 - 0.2) * (l + t)
        val t2 = 0.1 * (l2 - l) + (1 - 0.1) * t
        (l2, t2)
      }
    // microbatch placement must be invisible: the online fold carries
    // (level, trend) through state, no regrouping ever happens — so
    // unlike the batch chunked scan's 1e-12 slack, equality is EXACT
    for (split <- Seq(1, 7, 39)) {
      val in = MemoryStream[StreamingOps.MeasK]
      val q = StreamingOps.onlineHolt(in.toDS(), alpha = 0.2, beta = 0.1)
        .writeStream.format("memory").queryName(s"holt$split")
        .outputMode("append").start()
      try {
        rows.grouped(split).foreach { g => in.addData(g); q.processAllAvailable() }
        val snaps = spark.table(s"holt$split")
          .as[StreamingOps.HoltSnap].collect().sortBy(_.n)
        val last = snaps.last
        assert(last.n == 40L, s"split=$split n=${last.n}")
        assert(last.level == el, s"split=$split level ${last.level} != $el")
        assert(last.trend == et, s"split=$split trend ${last.trend} != $et")
        // exactly ONE snapshot per touched microbatch, each advancing n
        // by that batch's row count — duplicates, drops, or re-emits
        // all break one of these
        val nBatches = (rows.size + split - 1) / split
        assert(snaps.length == nBatches,
          s"split=$split: ${snaps.length} snapshots for $nBatches batches")
        val expectedNs = rows.grouped(split).scanLeft(0L)(_ + _.size).drop(1).toSeq
        assert(snaps.map(_.n).toSeq == expectedNs,
          s"split=$split: per-batch n ${snaps.map(_.n).toSeq} != $expectedNs")
      } finally q.stop()
    }
    // ...and the batch chunked scan agrees at its documented slack
    val batch = graft.operators.TimeSeriesOps.holtChunked(
        rows.zipWithIndex.map { case (m, i) =>
          (m.user_id, m.event_type, m.ts_us, i.toLong, m.cents.toDouble)
        }.toDF("user_id", "event_type", "ts_us", "event_id", "v"),
        alpha = 0.2, beta = 0.1)
      .collect().head
    assert(math.abs(batch.getDouble(3) - el) / math.abs(el) < 1e-12)
  }

  test("holtSequential (bounded batch evaluation) equals the sequential fold " +
      "and onlineHolt bit-for-bit, at any partitioning") {
    import spark.implicits._
    // multi-series random corpus, deliberately shuffled input order:
    // the operator owns its ordering (repartition + external sort)
    val M = 1000000L
    val rng = new scala.util.Random(23)
    val series = for {
      uid <- 1L to 5L; et <- Seq("click", "view")
    } yield (uid, et, Seq.fill(rng.nextInt(60) + 5)((rng.nextInt(9000) + 100).toLong))
    val rows = rng.shuffle(series.flatMap { case (uid, et, vs) =>
      vs.zipWithIndex.map { case (v, i) =>
        StreamingOps.MeasK(uid, et, i * 60L * M, i.toLong, v)
      }
    })
    def refFold(vs: Seq[Long]): (Long, Double, Double) = {
      val (l, t) = vs.map(_.toDouble).tail
        .foldLeft((vs.head.toDouble, 0.0)) { case ((l, t), x) =>
          val l2 = 0.25 * x + (1 - 0.25) * (l + t)
          val t2 = 0.125 * (l2 - l) + (1 - 0.125) * t
          (l2, t2)
        }
      (vs.size.toLong, l, t)
    }
    val want = series.map { case (uid, et, vs) => (uid, et) -> refFold(vs) }.toMap
    for (parts <- Seq(1, 4, 32)) {
      val got = StreamingOps.holtSequential(
          rows.toDS().repartition(parts), alpha = 0.25, beta = 0.125)
        .collect().map(s => (s.user_id, s.event_type) -> ((s.n, s.level, s.trend)))
        .toMap
      assert(got == want, s"parts=$parts: bounded evaluation != scalar fold")
    }
    // and against onlineHolt's own bounded-input evaluation (the
    // q_stream_holt contract predecessor): identical snapshots
    val online = StreamingOps.onlineHolt(rows.toDS(), alpha = 0.25, beta = 0.125)
      .collect().map(s => (s.user_id, s.event_type) -> ((s.n, s.level, s.trend)))
      .toMap
    assert(online == want)
  }

  test("online rates with event-time state TTL: silent series expire, " +
      "output equals the unbounded-state form when ttl >= heartbeat") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val M = 1000000L
    val hb = 90L * M                    // 90 s heartbeat
    // ttl == heartbeat: the boundary case of the scaladoc's equivalence
    // claim — expiry driven purely by the WATERMARK (event time, wmDelay
    // 0), so every batch below is deterministic, no wall clock anywhere
    // base offset: rows at-or-behind the watermark are dropped before
    // the stateful operator, and the INITIAL watermark is epoch 0 — so
    // the fixture lives strictly after it (the standard contract: pick
    // wmDelay for your out-of-orderness; here everything is in order)
    val T0 = 1000L * M
    def run(name: String, ttlUs: Long): Seq[(Long, Long, Long)] = {
      val in = MemoryStream[Meas]
      val q = StreamingOps.onlineRates(in.toDS(), hbUs = hb,
          wrapCap = 1000L, stateTtlUs = ttlUs)
        .writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      try {
        // seeds A and B; watermark after this batch: T0
        in.addData(Meas(1L, "a", T0, 100L), Meas(2L, "b", T0, 500L))
        q.processAllAvailable()
        // B keeps polling; A is silent. A's timeout ts = T0 + 90 s; the
        // watermark reaches it only after the T0+120 s batch commits, so
        // A's state drops during the T0+180 s batch
        in.addData(Meas(2L, "b", T0 + 60L * M, 600L))
        q.processAllAvailable()
        in.addData(Meas(2L, "b", T0 + 120L * M, 700L))
        q.processAllAvailable()
        in.addData(Meas(2L, "b", T0 + 180L * M, 800L))
        q.processAllAvailable()
        // A returns after a 200 s silence: state expired → re-seed, no
        // delta. The SAME sample also violates the 90 s heartbeat, so
        // the unbounded-state run drops its delta too — equivalence
        in.addData(Meas(1L, "a", T0 + 200L * M, 130L))
        q.processAllAvailable()
        // post-re-seed delta flows again (60 s ≤ hb)
        in.addData(Meas(1L, "a", T0 + 260L * M, 190L))
        q.processAllAvailable()
        spark.table(name).as[RateSample].collect()
          .map(r => (r.user_id, r.ts_us, r.delta_cents))
          .sortBy(x => (x._1, x._2)).toSeq
      } finally q.stop()
    }
    val withTtl = run("rates_ttl", ttlUs = hb)
    assert(withTtl == Seq(
      (1L, T0 + 260L * M, 60L),  // A: only the post-re-seed delta
      (2L, T0 + 60L * M, 100L),  // B: uninterrupted — its own data
      (2L, T0 + 120L * M, 100L), //   keeps pushing the timeout ahead
      (2L, T0 + 180L * M, 100L)),
      s"got $withTtl")
    // the equivalence claim itself: identical input, ttl=0 (unbounded
    // state), identical output multiset
    assert(run("rates_nottl", ttlUs = 0L) == withTtl)
  }

  test("online quantile cells: TTL expiry emits batch-identical cells " +
      "exactly once, absorbing cross-batch re-delivery") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val M = 1000000L
    val T0 = 1000L * M
    val step = 60L // one-minute cells
    // (user, type, ts, event_id, cents): slot0 = e1,e2,e3; slot1 = e4,e5
    val distinctRows = Seq(
      (1L, "a", T0, 101L, 100L),
      (1L, "a", T0 + 10L * M, 102L, 300L),
      (1L, "a", T0 + 30L * M, 103L, 500L),
      (1L, "a", T0 + 70L * M, 104L, 700L),
      (1L, "a", T0 + 80L * M, 105L, 900L))

    def run(name: String, ttlUs: Long): Seq[(Long, Seq[Long], Seq[Double])] = {
      val in = MemoryStream[(Long, String, Long, Long, Long)]
      val q = StreamingOps.onlineQuantileCells(
          in.toDF().toDF("user_id", "event_type", "ts_us", "event_id", "cents"),
          stepSec = step, stateTtlUs = ttlUs, wmDelay = "120 seconds")
        .writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      try {
        // batch 1: part of each slot, out of order across slots
        in.addData(distinctRows(0), distinctRows(1), distinctRows(3))
        q.processAllAvailable()
        // batch 2: e2 RE-DELIVERED across the microbatch boundary (an
        // at-least-once source) + the rest; wmDelay keeps the
        // re-delivery ahead of the watermark, distinct-add absorbs it
        in.addData(distinctRows(1), distinctRows(2), distinctRows(4))
        q.processAllAvailable()
        // sentinel pushes the watermark past both slot ends + any ttl
        // under test → both cells expire and emit, final
        in.addData((2L, "z", T0 + 100000L * M, 999L, 1L))
        q.processAllAvailable()
        val cells = spark.table(name)
          .filter(col("user_id") === 1L)
          .select("slot_ts", "pri", "value")
          .as[(Long, Seq[Long], Seq[Double])].collect().sortBy(_._1).toSeq
        // rows for an EXPIRED cell are behind the watermark by
        // construction (wm passed slot end + ttl ≥ row ts + ttl), so
        // the late-data filter drops them before the operator: no
        // second fragment, no corruption — cells emit exactly once
        in.addData(distinctRows(0), (1L, "a", T0 + 40L * M, 106L, 999L))
        q.processAllAvailable()
        in.addData((2L, "z", T0 + 200000L * M, 998L, 1L))
        q.processAllAvailable()
        val after = spark.table(name).filter(col("user_id") === 1L).count()
        assert(after == cells.size,
          s"$name: late rows for expired cells re-emitted ($after cells)")
        cells
      } finally q.stop()
    }

    val cells = run("qcells", ttlUs = 60L * M)
    // T0 = 1000 s is deliberately NOT slot-aligned: e1..e3 land in slot
    // 960, e4 (1070 s) in 1020, e5 (1080 s) exactly on the 1080 edge
    assert(cells.map(_._1) == Seq(960L, 1020L, 1080L), s"got ${cells.map(_._1)}")
    // bit-parity with the batch quant-cascade build over the distinct
    // rows (the semilattice + distinct-add make batch placement,
    // arrival order, and duplicate delivery invisible)
    val st = udaf(new graft.functions.BottomKState)
    val batch = distinctRows
      .toDF("user_id", "event_type", "ts_us", "event_id", "cents")
      .select(col("user_id"), col("event_type"),
        (expr(s"ts_us div ${step * 1000000L}") * step).as("slot_ts"),
        xxhash64(col("user_id"), col("event_type"), col("event_id")).as("pri"),
        col("cents").cast("double").as("v"))
      .groupBy("slot_ts").agg(st(col("pri"), col("v")).as("sk"))
      .select(col("slot_ts"), col("sk.pri"), col("sk.value"))
      .as[(Long, Seq[Long], Seq[Double])].collect().sortBy(_._1).toSeq
    assert(cells == batch,
      s"streaming cells differ from the batch build:\n$cells\nvs\n$batch")
    // ttl-invariance: a 10× ttl delays emission but cannot change the
    // emitted bits
    assert(run("qcells_ttl10", ttlUs = 600L * M) == cells)
  }

  test("manifest-layout streaming ingest is EXACTLY-ONCE: batch marks ride the snapshot commit") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val store = tempDir("graft-stream-mani")
    val mLayout = graft.sources.StoreLayout(commit = "manifest")
    // streaming-first deployment: no batch ingest ever runs — initStore
    // stamps the layout so the sink's first microbatch bootstraps base
    // under the manifest protocol
    graft.sources.TsdbStore.initStore(spark, store, mLayout)
    val in = MemoryStream[(Long, String, Long, Timestamp, Double)]
    val q = StreamingOps.streamIngestIncremental(
        in.toDF().toDF("user_id", "event_type", "event_id", "ts", "value"),
        store, runNs = "lin")
      .outputMode("update")
      .option("checkpointLocation", s"$store/_ckpt")
      .start()
    try {
      in.addData(
        (1L, "click", 10L, ts("2024-01-01 10:00:00"), 1.00),
        (1L, "click", 11L, ts("2024-01-02 11:00:00"), 2.00))
      q.processAllAvailable()
      in.addData(
        (1L, "click", 10L, ts("2024-01-01 10:00:00"), 5.00),
        (1L, "click", 12L, ts("2024-01-05 09:00:00"), 3.00))
      q.processAllAvailable()
    } finally q.stop()
    def base() = graft.sources.TsdbStore.readTable(spark, store, mLayout, "base")
    assert(base().count() == 3)
    assert(base().filter(col("event_id") === 10L)
      .select("cents").head().getLong(0) == 500L)
    val fs = new org.apache.hadoop.fs.Path(store)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val snap = graft.sources.StoreManifest.load(fs, store)
    // one atomic snapshot per microbatch, each carrying its mark
    assert(snap.props.get("streamhwm:lin").contains("1"), snap.props.toString)
    // EXACTLY-ONCE, not just idempotent-by-content: re-deliver batch 1
    // with POISONED values — the high-water mark must turn it into a
    // no-op before any job runs (content never even looked at)
    val poisoned = Seq((1L, "click", 10L, ts("2024-01-01 10:00:00"), 999.0))
      .toDF("user_id", "event_type", "event_id", "ts", "value")
    val touched = graft.sources.TsdbStore.upsertIncremental(
      spark, poisoned, store, streamCommit = Some(("lin", 1L)))
    assert(touched.isEmpty, "replayed batch must no-op at the high-water mark")
    assert(graft.sources.StoreManifest.load(fs, store).version == snap.version,
      "replay must not publish a snapshot")
    assert(base().filter(col("event_id") === 10L)
      .select("cents").head().getLong(0) == 500L, "replay mutated the store")
    // a FRESH batch id applies and advances the mark atomically with it
    val t2 = graft.sources.TsdbStore.upsertIncremental(spark,
      Seq((1L, "click", 13L, ts("2024-01-06 08:00:00"), 4.00))
        .toDF("user_id", "event_type", "event_id", "ts", "value"),
      store, streamCommit = Some(("lin", 2L)))
    assert(t2.nonEmpty)
    val snap2 = graft.sources.StoreManifest.load(fs, store)
    assert(snap2.version == snap.version + 1)
    assert(snap2.props.get("streamhwm:lin").contains("2"))
    assert(base().count() == 4)
    // an INDEPENDENT checkpoint lineage carries its own mark: its
    // batch 0 applies even though lineage "lin" is already past 2
    val t3 = graft.sources.TsdbStore.upsertIncremental(spark,
      Seq((2L, "view", 20L, ts("2024-01-06 09:00:00"), 7.00))
        .toDF("user_id", "event_type", "event_id", "ts", "value"),
      store, streamCommit = Some(("other", 0L)))
    assert(t3.nonEmpty)
    val snap3 = graft.sources.StoreManifest.load(fs, store)
    assert(snap3.props.get("streamhwm:other").contains("0") &&
      snap3.props.get("streamhwm:lin").contains("2"),
      s"lineage marks must be independent: ${snap3.props}")
    // the rename layout is read-only to upsertIncremental, streamed or not
    val rStore = tempDir("graft-stream-mani-r")
    graft.sources.TsdbStore.ingest(spark,
      Tables.events(spark, Sf).limit(20), rStore)
    val e = intercept[IllegalArgumentException] {
      graft.sources.TsdbStore.upsertIncremental(spark, poisoned, rStore,
        streamCommit = Some(("x", 0L)))
    }
    assert(e.getMessage.contains("manifest"), e.getMessage)
  }

  test("store-tail CDF source: snapshot versions are offsets, each new segment's rows emit exactly once") {
    import org.apache.spark.sql.streaming.Trigger
    val store = tempDir("graft-store-tail")
    val layout = graft.sources.StoreLayout(commit = "manifest")
    graft.sources.TsdbStore.ingest(spark, Tables.events(spark, Sf), store, layout)
    val ckpt = tempDir("graft-store-tail-ckpt")
    // foreachBatch, not the memory sink: the tail must RESUME from its
    // checkpoint across triggers (the consumer-lag semantics under
    // test), which the memory sink refuses
    def runTail(): org.apache.spark.sql.DataFrame = {
      val sink = new java.util.concurrent.ConcurrentLinkedQueue[org.apache.spark.sql.Row]
      val q = spark.readStream
        .format(classOf[graft.sources.StoreTailSource].getName)
        .option("path", store)
        .load()
        .writeStream.foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          df.collect().foreach(sink.add): Unit
        }
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      try q.awaitTermination() finally q.stop()
      val schema = graft.sources.StoreTailSource.tailSchema(
        graft.sources.StoreTailSource.resolveDataSchema(store, "base"))
      spark.createDataFrame(
        new java.util.ArrayList(java.util.Arrays.asList(
          sink.toArray(Array.empty[org.apache.spark.sql.Row]): _*)), schema)
    }
    // batch 1 (offsets 0 → v1): the whole live base, version-tagged
    val t1 = runTail()
    val base = graft.sources.TsdbStore.readTable(spark, store, layout, "base")
    assert(t1.count() == base.count())
    assert(t1.select("_version").distinct().collect().map(_.getLong(0)).toSeq == Seq(1L))
    assert(t1.select("user_id", "event_type", "event_id", "ts_us", "cents")
      .exceptAll(base.select("user_id", "event_type", "event_id", "ts_us", "cents"))
      .isEmpty)
    // no new snapshot ⇒ an idle re-trigger emits NOTHING (offset log)
    assert(runTail().count() == 0)
    // an incremental upsert commits v2; the tail emits exactly the
    // partitions v2 newly references — their full new content, once
    val replayed = Tables.events(spark, Sf)
      .filter(col("event_type") === "click" &&
        col("ts") >= lit("2024-01-09") && col("ts") < lit("2024-01-11"))
      .withColumn("value", col("value") + 1.0)
    val touched = graft.sources.TsdbStore.upsertIncremental(spark, replayed, store)
    val t3 = runTail()
    assert(t3.select("_version").distinct().collect().map(_.getLong(0)).toSeq == Seq(2L))
    assert(t3.select("dt").distinct().collect().map(_.getString(0)).sorted.toSeq ==
      touched.sorted)
    val expect = graft.sources.TsdbStore.readTable(spark, store, layout, "base")
      .filter(col("dt").cast("string").isin(touched: _*))
      .select("user_id", "event_type", "event_id", "ts_us", "cents")
    assert(t3.count() == expect.count())
    assert(t3.select("user_id", "event_type", "event_id", "ts_us", "cents")
      .exceptAll(expect).isEmpty)
    // a PURE-METADATA commit (retention drop of nothing... use
    // addColumn) emits no rows but advances the offset cleanly
    graft.sources.TsdbStore.addColumn(spark, store, "base",
      org.apache.spark.sql.types.StructField("quality",
        org.apache.spark.sql.types.DoubleType))
    assert(runTail().count() == 0)
    // retention contract: a tail whose resume point was vacuumed away
    // fails LOUDLY at plan time, never silently skips
    graft.sources.TsdbStore.upsertIncremental(spark,
      replayed.withColumn("value", col("value") + 1.0), store)
    graft.sources.TsdbStore.vacuum(spark, store, keepManifests = 1)
    val err = intercept[Exception] { runTail() }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Seq.empty else t +: causes(t.getCause)
    assert(causes(err).exists(c => String.valueOf(c.getMessage)
      .contains("vacuumed or never committed")), err.getMessage)
  }

  test("store-tail hardening: maxVersionsPerBatch bounds every catch-up batch to one " +
      "version span; evolved ARRAY (embedding) columns decode") {
    import org.apache.spark.sql.streaming.Trigger
    import org.apache.spark.sql.types.{ArrayType, FloatType, StructField}
    val store = tempDir("graft-tail-hard")
    val layout = graft.sources.StoreLayout(commit = "manifest")
    graft.sources.TsdbStore.ingest(spark, Tables.events(spark, Sf), store, layout) // v1
    graft.sources.TsdbStore.addColumn(spark, store, "base",
      StructField("emb", ArrayType(FloatType)))                                    // v2 (metadata)
    val withEmb = Tables.events(spark, Sf)
      .filter(col("event_type") === "click" &&
        col("ts") >= lit("2024-01-09") && col("ts") < lit("2024-01-11"))
      .withColumn("value", col("value") + 1.0)
      .withColumn("emb", array(col("user_id").cast("float"), lit(0.5f),
        col("value").cast("float")))
    graft.sources.TsdbStore.upsertIncremental(spark, withEmb, store)               // v3
    graft.sources.TsdbStore.upsertIncremental(spark,
      Tables.events(spark, Sf)
        .filter(col("event_type") === "click" &&
          col("ts") >= lit("2024-01-11") && col("ts") < lit("2024-01-13"))
        .withColumn("value", col("value") + 2.0),
      store)                                                                       // v4 (no emb: nulls)
    // a LAGGED consumer starting at 0 with maxVersionsPerBatch=1 must
    // catch up in single-version batches, metadata versions included
    val ckpt = tempDir("graft-tail-hard-ckpt")
    val batchVersions =
      new java.util.concurrent.ConcurrentLinkedQueue[Seq[Long]]
    val sink = new java.util.concurrent.ConcurrentLinkedQueue[org.apache.spark.sql.Row]
    val q = spark.readStream
      .format(classOf[graft.sources.StoreTailSource].getName)
      .option("path", store)
      .option("maxVersionsPerBatch", "1")
      .load()
      .writeStream.foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        val rows = df.collect()
        batchVersions.add(rows.map(_.getAs[Long]("_version")).distinct.sorted.toSeq)
        rows.foreach(sink.add): Unit
      }
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    try q.awaitTermination() finally q.stop()
    val spans = batchVersions.toArray(Array.empty[Seq[Long]]).toSeq
    assert(spans.count(_.nonEmpty) >= 2, s"expected multiple non-empty batches: $spans")
    spans.foreach(vs => assert(vs.size <= 1,
      s"a capped batch must span at most ONE snapshot version, saw $vs"))
    assert(spans.flatten.toSet == Set(1L, 3L, 4L),
      s"every data version must arrive exactly once: $spans")
    // the drained rows equal the live base, arrays included — the
    // ARRAY decode path produced the same values the batch reader sees
    val schema = graft.sources.StoreTailSource.tailSchema(
      graft.sources.StoreTailSource.resolveDataSchema(store, "base"))
    val drained = spark.createDataFrame(
      new java.util.ArrayList(java.util.Arrays.asList(
        sink.toArray(Array.empty[org.apache.spark.sql.Row]): _*)), schema)
    val gotEmb = drained.filter(col("_version") === 3L)
      .select("event_id", "emb")
    val wantEmb = graft.sources.TsdbStore.readTableAt(spark, store, "base", 3L)
      .filter(col("emb").isNotNull).select("event_id", "emb")
    assert(!wantEmb.isEmpty, "fixture must produce embedding rows")
    assert(gotEmb.filter(col("emb").isNotNull).exceptAll(wantEmb).isEmpty &&
      wantEmb.exceptAll(gotEmb.filter(col("emb").isNotNull)).isEmpty,
      "tail-decoded arrays must equal the batch reader's")
  }

  test("lambda loop end-to-end: tail of store A → transform → exactly-once ingest into " +
      "store B across BOTH commit protocols, crash-replayed between B's commit and the " +
      "checkpoint write; B equals a batch rebuild") {
    import org.apache.spark.sql.streaming.Trigger
    val layout = graft.sources.StoreLayout(commit = "manifest")
    val a = tempDir("graft-lambda-a")
    val b = tempDir("graft-lambda-b")
    val ckpt = tempDir("graft-lambda-ckpt")
    graft.sources.TsdbStore.ingest(spark, Tables.events(spark, Sf), a, layout)
    graft.sources.TsdbStore.initStore(spark, b, layout) // streaming-first downstream
    // the MATERIALIZED-VIEW transform: doubled values (cents/100 is the
    // exact stored value, so the rebuild twin can reproduce it exactly)
    def transform(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
      df.select(col("user_id"), col("event_type"), col("event_id"),
        timestamp_micros(col("ts_us")).as("ts"),
        (col("cents").cast("double") / 100.0 * 2.0).as("value"))
    val crash = new java.util.concurrent.atomic.AtomicBoolean(false)
    val ns = "lambda"
    def runPipeline(): Unit = {
      // maxVersionsPerBatch=1: each microbatch spans ONE upstream
      // snapshot, so in-batch event_id duplicates across versions
      // cannot arise and the serial replay order equals A's commit
      // order — the deterministic lambda shape
      val q = spark.readStream
        .format(classOf[graft.sources.StoreTailSource].getName)
        .option("path", a)
        .option("maxVersionsPerBatch", "1")
        .load()
        .transform(transform)
        .writeStream.foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
          graft.sources.TsdbStore.upsertIncremental(batch.sparkSession, batch, b,
            streamCommit = Some((ns, id))): Unit
          // the injected crash window: B's manifest commit (and its
          // high-water mark) are DURABLE, the checkpoint commit for
          // this batch never happens — the restart MUST replay it
          if (crash.getAndSet(false))
            throw new RuntimeException("injected crash after downstream commit")
        }
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      try q.awaitTermination()
      catch { case e: org.apache.spark.sql.streaming.StreamingQueryException =>
        assert(String.valueOf(e.getCause.getMessage).contains("injected crash"), e) }
      finally q.stop()
    }
    runPipeline() // drain the initial snapshot into B
    // upstream keeps moving: two more commits
    graft.sources.TsdbStore.upsertIncremental(spark,
      Tables.events(spark, Sf)
        .filter(col("event_type") === "click" &&
          col("ts") >= lit("2024-01-09") && col("ts") < lit("2024-01-11"))
        .withColumn("value", col("value") + 1.0), a)
    graft.sources.TsdbStore.upsertIncremental(spark,
      Tables.events(spark, Sf)
        .filter(col("event_type") === "purchase" &&
          col("ts") >= lit("2024-01-11") && col("ts") < lit("2024-01-13"))
        .withColumn("value", col("value") + 3.0), a)
    val fsB = new org.apache.hadoop.fs.Path(b)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val hwmBefore = graft.sources.StoreManifest.load(fsB, b).props(s"streamhwm:$ns")
    crash.set(true)
    runPipeline() // commits the next batch into B, then dies pre-checkpoint
    val crashedSnap = graft.sources.StoreManifest.load(fsB, b)
    assert(crashedSnap.props(s"streamhwm:$ns") != hwmBefore,
      "the crashed run must have committed its batch downstream first")
    runPipeline() // restart: replays the un-checkpointed batch (hwm no-op), finishes
    // B equals a from-scratch batch rebuild of the transform over A's LIVE base
    val c = tempDir("graft-lambda-c")
    graft.sources.TsdbStore.ingest(spark,
      transform(graft.sources.TsdbStore.readTable(spark, a, layout, "base")), c, layout)
    def rows(store: String, t: String): Seq[String] =
      graft.sources.TsdbStore.readTable(spark, store, layout, t)
        .collect().map(_.toString).sorted.toSeq
    Seq("base", "agg_21600", "agg_86400", "rate_21600", "rate_86400",
        "quant_21600", "quant_86400").foreach { t =>
      assert(rows(b, t) == rows(c, t),
        s"lambda-materialized store diverges from the batch rebuild on $t")
    }
  }
}
