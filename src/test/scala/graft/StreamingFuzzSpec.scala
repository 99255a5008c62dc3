package graft

import scala.util.Random

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.streaming.StreamingOps
import graft.streaming.StreamingOps.{GapAlert, Meas, MeasK, RateSample}

/** Seeded-random microbatch-split fuzzing of the streaming half
  * (VERDICT r11 next #2): StoreMutationFuzzSpec's recipe lifted to
  * streaming. The hand-picked splits StreamingSpec pins (1/7/39,
  * scripted replays) become RANDOM draws — random corpora, random
  * microbatch boundary placement, within-batch delivery order
  * shuffled (the ops' documented tolerance: each sorts per group per
  * batch) — with every scenario asserted equal to the one-batch /
  * scalar-fold truth computed independently in plain Scala.
  *
  * 93 seeded scenarios: 15 onlineHolt + 15 onlineRates +
  * 15 heartbeatGaps + 10 onlineQuantileCells (the in-state sketch) + round 13's widening
  * to the REST of the stateful surface (VERDICT r12 next #5):
  * 12 within-watermark dedup + 12 session windows + 8 two-sided
  * interval joins + 6 ingest-while-rollup-reads histories. Seeds
  * derive from [[RoundSeed]] — rotate it each round so every round
  * sweeps a fresh region of the space; any failure reproduces from
  * the printed (seed) alone. */
class StreamingFuzzSpec extends SparkSpec {

  /** Base seed for the round — bump per round (r12 = 1200, r13 = 1300). */
  private val RoundSeed = 1300L

  private val M = 1000000L

  /** Random multi-series corpus in GLOBAL ts order: each step assigns
    * the next (randomly spaced) timestamp to a random series, so
    * per-series ts is strictly increasing while series interleave
    * arbitrarily — the shape a poller feed actually has. `spacing`
    * draws the next gap in seconds. */
  private def corpus(r: Random, nRows: Int, nSeries: Int,
                     spacing: () => Long,
                     cents: () => Long): Vector[MeasK] = {
    val keys = (0 until nSeries).map { i =>
      (i / 2 + 1L, if (i % 2 == 0) "click" else "view")
    }
    var ts = 1704067200L * M
    val perSeriesCount = scala.collection.mutable.Map.empty[Int, Long]
    (0 until nRows).map { _ =>
      val s = r.nextInt(nSeries)
      val (uid, et) = keys(s)
      ts += spacing() * M
      val eid = perSeriesCount.getOrElse(s, 0L)
      perSeriesCount(s) = eid + 1
      MeasK(uid, et, ts, eid, cents())
    }.toVector
  }

  /** Split into random contiguous batches (cross-batch order kept),
    * each batch's delivery order shuffled. */
  private def randomBatches[T](r: Random, rows: Vector[T]): Vector[Vector[T]] = {
    val out = Vector.newBuilder[Vector[T]]
    var i = 0
    while (i < rows.size) {
      val n = 1 + r.nextInt(math.max(1, rows.size / 4))
      out += r.shuffle(rows.slice(i, i + n))
      i += n
    }
    out.result()
  }

  test("onlineHolt == per-series scalar fold, bit-for-bit, over 15 random corpora × random splits") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    for (k <- 0 until 15) {
      val seed = RoundSeed + k
      val r = new Random(seed)
      val rows = corpus(r, nRows = 40 + r.nextInt(80),
        nSeries = 1 + r.nextInt(6),
        spacing = () => 30L + r.nextInt(120),
        cents = () => (r.nextInt(9000) + 100).toLong)
      // truth: the scalar recurrence per series (dyadic α, β per §7.4)
      val want = rows.groupBy(x => (x.user_id, x.event_type)).map {
        case (key, rs) =>
          val vs = rs.sortBy(x => (x.ts_us, x.event_id)).map(_.cents.toDouble)
          val (l, b) = vs.tail.foldLeft((vs.head, 0.0)) { case ((l, b), x) =>
            val l2 = 0.25 * x + (1 - 0.25) * (l + b)
            (l2, 0.125 * (l2 - l) + (1 - 0.125) * b)
          }
          key -> ((vs.size.toLong, l, b))
      }
      val in = MemoryStream[MeasK]
      val q = StreamingOps.onlineHolt(in.toDS(), alpha = 0.25, beta = 0.125)
        .writeStream.format("memory").queryName(s"fuzzholt$k")
        .outputMode("append").start()
      try {
        randomBatches(r, rows).foreach { b =>
          in.addData(b); q.processAllAvailable()
        }
        // the LAST snapshot per series is the full-series fold
        val got = spark.table(s"fuzzholt$k")
          .as[StreamingOps.HoltSnap].collect()
          .groupBy(s => (s.user_id, s.event_type))
          .map { case (key, ss) =>
            val last = ss.maxBy(_.n)
            key -> ((last.n, last.level, last.trend))
          }
        assert(got == want, s"seed=$seed: online holt != scalar fold")
      } finally q.stop()
    }
  }

  test("onlineRates == one-pass wrap/heartbeat walk over 15 random corpora × random splits") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    for (k <- 0 until 15) {
      val seed = RoundSeed + 100 + k
      val r = new Random(seed)
      val hbUs = 3600L * M
      val wrapCap = 100000L
      // spacing straddles the heartbeat (some gaps drop); cents draw
      // arbitrary non-monotone values so wrap deltas exercise the
      // modular arithmetic in both directions
      val rows = corpus(r, nRows = 40 + r.nextInt(80),
        nSeries = 1 + r.nextInt(5),
        spacing = () => 60L + r.nextInt(7200),
        cents = () => r.nextInt(200000).toLong)
        .map(x => Meas(x.user_id, x.event_type, x.ts_us, x.cents))
      val want = rows.groupBy(x => (x.user_id, x.event_type)).toSeq.flatMap {
        case ((uid, et), rs) =>
          rs.sortBy(_.ts_us).sliding(2).collect {
            case Seq(a, b) if b.ts_us - a.ts_us > 0 && b.ts_us - a.ts_us <= hbUs =>
              val dtUs = b.ts_us - a.ts_us
              val d = ((b.cents - a.cents) % wrapCap + wrapCap) % wrapCap
              RateSample(uid, et, b.ts_us, d, dtUs, d / 100.0 / (dtUs / 1000000.0))
          }
      }.sortBy(s => (s.user_id, s.event_type, s.ts_us))
      val in = MemoryStream[Meas]
      val q = StreamingOps.onlineRates(in.toDS(), hbUs = hbUs, wrapCap = wrapCap)
        .writeStream.format("memory").queryName(s"fuzzrate$k")
        .outputMode("append").start()
      try {
        randomBatches(r, rows).foreach { b =>
          in.addData(b); q.processAllAvailable()
        }
        val got = spark.table(s"fuzzrate$k").as[RateSample].collect()
          .sortBy(s => (s.user_id, s.event_type, s.ts_us)).toSeq
        assert(got == want, s"seed=$seed: online rates != one-pass walk")
      } finally q.stop()
    }
  }

  test("heartbeatGaps == one-pass gap walk over 15 random corpora × random splits") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    for (k <- 0 until 15) {
      val seed = RoundSeed + 200 + k
      val r = new Random(seed)
      val hbUs = 1800L * M
      val rows = corpus(r, nRows = 30 + r.nextInt(60),
        nSeries = 1 + r.nextInt(5),
        spacing = () => 60L + r.nextInt(3600),
        cents = () => 0L)
        .map(x => Meas(x.user_id, x.event_type, x.ts_us, x.cents))
      val want = rows.groupBy(x => (x.user_id, x.event_type)).toSeq.flatMap {
        case ((uid, et), rs) =>
          rs.sortBy(_.ts_us).sliding(2).collect {
            case Seq(a, b) if b.ts_us - a.ts_us > hbUs =>
              GapAlert(uid, et, a.ts_us, b.ts_us, b.ts_us - a.ts_us)
          }
      }.sortBy(g => (g.user_id, g.event_type, g.from_us))
      val in = MemoryStream[Meas]
      val q = StreamingOps.heartbeatGaps(in.toDS(), hbUs = hbUs)
        .writeStream.format("memory").queryName(s"fuzzgap$k")
        .outputMode("append").start()
      try {
        randomBatches(r, rows).foreach { b =>
          in.addData(b); q.processAllAvailable()
        }
        val got = spark.table(s"fuzzgap$k").as[GapAlert].collect()
          .sortBy(g => (g.user_id, g.event_type, g.from_us)).toSeq
        assert(got == want, s"seed=$seed: gap alerts != one-pass walk")
      } finally q.stop()
    }
  }

  test("onlineQuantileCells == plain-Scala bottom-K distinct fold over " +
      "10 random corpora × random splits with random re-delivery") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.StreamingOps.QuantCell
    for (k <- 0 until 10) {
      val seed = RoundSeed + 400 + k
      val r = new Random(seed)
      val step = 300L // 5-minute cells
      val ttlUs = (60L + r.nextInt(600)) * M
      val rows = corpus(r, nRows = 30 + r.nextInt(50),
        nSeries = 1 + r.nextInt(4),
        spacing = () => 10L + r.nextInt(120),
        cents = () => (r.nextInt(9000) + 100).toLong)
      // pri is the SAME xxhash64 column expression the operator (and
      // the batch cascade build) computes; the grouping, distinct-add,
      // and bottom-K ordering are then recomputed in plain Scala in a
      // SHUFFLED order, so the semilattice claim (split placement,
      // delivery order, and duplicate delivery are invisible) is
      // checked against arithmetic independent of any Spark operator
      val withPri = rows
        .toDF("user_id", "event_type", "ts_us", "event_id", "cents")
        .select(col("user_id"), col("event_type"),
          (expr(s"ts_us div ${step * M}") * step).as("slot_ts"),
          xxhash64(col("user_id"), col("event_type"), col("event_id"))
            .as("pri"),
          col("cents").cast("double").as("v"))
        .as[(Long, String, Long, Long, Double)].collect().toVector
      val want = withPri.groupBy(x => (x._1, x._2, x._3)).toSeq.map {
        case (key, rs) =>
          val b = r.shuffle(rs).foldLeft(graft.functions.BottomKSample.empty) {
            (acc, x) => graft.functions.BottomKSample.addDistinct(acc, x._4, x._5)
          }
          (key._1, key._2, key._3, b.pri.toSeq, b.value.toSeq)
      }.sortBy(x => (x._1, x._2, x._3))
      // wmDelay exceeds any corpus span (≤ 79·129 s), so no random
      // re-delivery is ever behind the watermark — distinct-add alone
      // must absorb it
      val wmDelaySec = 30000L
      val in = MemoryStream[MeasK]
      val q = StreamingOps.onlineQuantileCells(
          in.toDS().toDF(), stepSec = step, stateTtlUs = ttlUs,
          wmDelay = s"$wmDelaySec seconds")
        .writeStream.format("memory").queryName(s"fuzzqcell$k")
        .outputMode("append").start()
      try {
        val delivered = scala.collection.mutable.ArrayBuffer.empty[MeasK]
        randomBatches(r, rows).foreach { b =>
          delivered ++= b
          // at-least-once source: with p=½ re-deliver 1-3 already-seen
          // rows across the microbatch boundary
          val redelivery =
            if (r.nextBoolean() && delivered.nonEmpty)
              Vector.fill(1 + r.nextInt(3))(delivered(r.nextInt(delivered.size)))
            else Vector.empty
          in.addData(b ++ redelivery); q.processAllAvailable()
        }
        // sentinel advances the watermark past every slot end + ttl →
        // every data cell expires and emits (exactly once: a second
        // emission would break the multiset equality below)
        val lastTs = rows.map(_.ts_us).max
        in.addData(MeasK(999L, "z",
          lastTs + (wmDelaySec + 2000L) * M + ttlUs, 0L, 1L))
        q.processAllAvailable()
        val got = spark.table(s"fuzzqcell$k")
          .filter(col("user_id") =!= 999L)
          .as[QuantCell].collect()
          .map(c => (c.user_id, c.event_type, c.slot_ts,
            c.pri.toSeq, c.value.toSeq))
          .sortBy(x => (x._1, x._2, x._3)).toSeq
        assert(got == want,
          s"seed=$seed: online quantile cells != scalar distinct fold")
      } finally q.stop()
    }
  }

  test("dedupStream: every exact-copy redelivery is invisible over " +
      "12 random corpora × random splits (within-watermark dedup)") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    for (k <- 0 until 12) {
      val seed = RoundSeed + 500 + k
      val r = new Random(seed)
      // strictly increasing global ts (1-30 s spacing), unique ids —
      // cross-batch order kept by randomBatches, so no ORIGINAL row is
      // ever behind the watermark; an exact-copy redelivery can then
      // NEVER surface twice: while its id's state lives it is dropped
      // as a duplicate, and once the state has expired the copy's own
      // ts is necessarily behind the watermark and drops as late —
      // either way the truth is plain distinct-by-id
      var ts = 1704067200L * M
      val rows = (0 until 40 + r.nextInt(60)).map { i =>
        ts += (1L + r.nextInt(30)) * M
        (i.toLong, new java.sql.Timestamp(ts / 1000))
      }.toVector
      val in = MemoryStream[(Long, java.sql.Timestamp)]
      val q = StreamingOps.dedupEvents(in.toDF().toDF("event_id", "ts"))
        .writeStream.format("memory").queryName(s"fuzzdedup$k")
        .outputMode("append").start()
      try {
        val delivered = scala.collection.mutable.ArrayBuffer.empty[(Long, java.sql.Timestamp)]
        randomBatches(r, rows).foreach { b =>
          delivered ++= b
          val redelivery =
            if (r.nextBoolean() && delivered.nonEmpty)
              Vector.fill(1 + r.nextInt(3))(delivered(r.nextInt(delivered.size)))
            else Vector.empty
          in.addData(b ++ redelivery); q.processAllAvailable()
        }
        val got = spark.table(s"fuzzdedup$k")
          .as[(Long, java.sql.Timestamp)].collect().toVector
        assert(got.sortBy(_._1) == rows.sortBy(_._1),
          s"seed=$seed: dedup output != distinct rows " +
            s"(${got.size} vs ${rows.size})")
      } finally q.stop()
    }
  }

  test("sessionCounts == per-user gap-split fold over 12 random " +
      "corpora × random splits") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    val gapUs = 1800L * M // sessionCounts' 30 min inactivity gap
    for (k <- 0 until 12) {
      val seed = RoundSeed + 600 + k
      val r = new Random(seed)
      // global increasing ts with spacing straddling the 30 min gap,
      // randomly assigned to 1-4 users — per-user gaps then land on
      // both sides of the session boundary
      var ts = 1704067200L * M
      val nUsers = 1 + r.nextInt(4)
      val rows = (0 until 30 + r.nextInt(50)).map { _ =>
        ts += (30L + r.nextInt(2700)) * M
        (new java.sql.Timestamp(ts / 1000), (1 + r.nextInt(nUsers)).toLong)
      }.toVector
      // truth: per user, a new session starts when the gap since the
      // previous event is >= 30 min (session_window intervals are
      // half-open [start, last + gap))
      val want = rows.groupBy(_._2).toSeq.flatMap { case (uid, rs) =>
        val tsUs = rs.map(_._1.getTime * 1000L).sorted
        val sessions = scala.collection.mutable.ArrayBuffer.empty[Vector[Long]]
        tsUs.foreach { t =>
          if (sessions.nonEmpty && t < sessions.last.last + gapUs)
            sessions(sessions.size - 1) = sessions.last :+ t
          else sessions += Vector(t)
        }
        sessions.map(sess =>
          (uid, sess.head, sess.last + gapUs, sess.size.toLong))
      }.sortBy(x => (x._1, x._2))
      val in = MemoryStream[(java.sql.Timestamp, Long)]
      val q = StreamingOps.sessionCounts(in.toDF().toDF("ts", "user_id"))
        .writeStream.format("memory").queryName(s"fuzzsess$k")
        .outputMode("append").start()
      try {
        randomBatches(r, rows).foreach { b =>
          in.addData(b); q.processAllAvailable()
        }
        // sentinel far past every session end + watermark closes all
        in.addData((new java.sql.Timestamp(ts / 1000 + 172800L * 1000), 999L))
        q.processAllAvailable()
        val got = spark.table(s"fuzzsess$k")
          .filter(col("user_id") =!= 999L)
          .select(col("user_id"), unix_micros(col("s_start")),
            unix_micros(col("s_end")), col("n"))
          .as[(Long, Long, Long, Long)].collect()
          .sortBy(x => (x._1, x._2)).toSeq
        assert(got == want, s"seed=$seed: session windows != gap-split fold")
      } finally q.stop()
    }
  }

  test("intervalJoinStream == nested-loop truth over 8 random " +
      "two-sided corpora × random interleaved splits") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    val windowUs = 600L * M // 10 min join window
    for (k <- 0 until 8) {
      val seed = RoundSeed + 700 + k
      val r = new Random(seed)
      // one global timeline (spacing <= 60 s, span <= ~50 min — well
      // inside the op's 1 h watermark delay, so NO state ages out
      // before the last delivery and every match must surface), each
      // event randomly a left or a right row on keys 1-3
      var ts = 1704067200L * M
      val nKeys = 1 + r.nextInt(3)
      val timeline = (0 until 30 + r.nextInt(20)).map { i =>
        ts += (5L + r.nextInt(55)) * M
        (i.toLong, (1 + r.nextInt(nKeys)).toLong, ts, r.nextBoolean())
      }.toVector
      val lefts = timeline.filter(_._4).map(x => (x._1, x._2, x._3))
      val rights = timeline.filterNot(_._4).map(x => (x._1 + 1000L, x._2, x._3))
      val want = (for {
        l <- lefts; rr <- rights
        if rr._2 == l._2 && rr._3 >= l._3 && rr._3 < l._3 + windowUs
      } yield (l._1, rr._1)).toSet
      def toTs(rows: Vector[(Long, Long, Long)]) =
        rows.map(x => (x._1, x._2, new java.sql.Timestamp(x._3 / 1000)))
      val lIn = MemoryStream[(Long, Long, java.sql.Timestamp)]
      val rIn = MemoryStream[(Long, Long, java.sql.Timestamp)]
      val q = StreamingOps.intervalJoinStream(lIn.toDF(), rIn.toDF(), windowUs)
        .writeStream.format("memory").queryName(s"fuzzijoin$k")
        .outputMode("append").start()
      try {
        // interleaved delivery: split the MERGED timeline, each batch
        // feeds both sides (so neither side's watermark races ahead)
        randomBatches(r, timeline).foreach { b =>
          val ls = b.filter(_._4).map(x => (x._1, x._2, x._3))
          val rs = b.filterNot(_._4).map(x => (x._1 + 1000L, x._2, x._3))
          if (ls.nonEmpty) lIn.addData(toTs(ls))
          if (rs.nonEmpty) rIn.addData(toTs(rs))
          q.processAllAvailable()
        }
        val got = spark.table(s"fuzzijoin$k")
          .as[(Long, Long)].collect().toSet
        assert(got == want,
          s"seed=$seed: interval join != nested-loop truth " +
            s"(${got.size} vs ${want.size} pairs)")
      } finally q.stop()
    }
  }

  test("ingest-while-rollup-reads: after EVERY commit of 6 random " +
      "upsert histories (with replays) the rollup a reader sees equals " +
      "recompute-from-base") {
    val spark2 = spark
    import spark2.implicits._
    val step = graft.sources.TsdbStore.AggSteps.head
    for (k <- 0 until 6) {
      val seed = RoundSeed + 800 + k
      val r = new Random(seed)
      val T0 = 1704067200L * M
      var nextId = 0L
      // committed truth: latest version per (user, event_type, id) key
      val live = scala.collection.mutable.LinkedHashMap
        .empty[Long, (Long, String, Long, Long, Double)]
      def freshRows(n: Int): Vector[(Long, String, Long, Long, Double)] =
        (0 until n).map { _ =>
          val id = nextId; nextId += 1
          val row = (1L + r.nextInt(3),
            if (r.nextBoolean()) "click" else "view", id,
            T0 + r.nextInt(3) * 86400L * M + r.nextInt(86400).toLong * M,
            (r.nextInt(9000) + 100) / 100.0)
          live(id) = row
          row
        }.toVector
      def df(rows: Vector[(Long, String, Long, Long, Double)]) =
        rows.toDF("user_id", "event_type", "event_id", "ts_us_raw", "value")
          .select(col("user_id"), col("event_type"), col("event_id"),
            timestamp_micros(col("ts_us_raw")).as("ts"), col("value"))
      val p = tempDir(s"graft_ingestroll$k")
      graft.sources.TsdbStore.ingest(spark, df(freshRows(6 + r.nextInt(6))), p,
        graft.sources.StoreLayout(commit = "manifest"))
      def readerSeesCommitted(): Unit = {
        val m = live.values.toVector
          .toDF("user_id", "event_type", "event_id", "ts_us_raw", "value")
          .select(col("user_id"), col("event_type"), col("event_id"),
            col("ts_us_raw").as("ts_us"),
            expr("CAST(round(value*100) AS BIGINT)").as("cents"))
        val base = graft.sources.TsdbStore.readTable(spark, p, "base")
          .select("user_id", "event_type", "event_id", "ts_us", "cents")
        assert(base.exceptAll(m).isEmpty && m.exceptAll(base).isEmpty,
          s"seed=$seed: base != committed rows")
        val agg = graft.sources.TsdbStore.readTable(spark, p, s"agg_$step").drop("dt")
        val want = graft.operators.TimeSeriesOps.downsampleWide(m, step)
          .select(agg.columns.map(col).toIndexedSeq: _*)
        assert(agg.exceptAll(want).isEmpty && want.exceptAll(agg).isEmpty,
          s"seed=$seed: rollup read mid-history != recompute from base")
      }
      readerSeesCommitted()
      for (_ <- 0 until 2 + r.nextInt(2)) {
        // each maintenance commit: mostly-new rows, with p=1/2 one
        // REPLAY of a PREVIOUSLY COMMITTED key at a changed value
        // (same ts — replayed rows win; partition-moving replays are a
        // separate, loud, declared mode). The replay pool is snapshot
        // BEFORE this commit's fresh rows: a same-batch duplicate is
        // not a replay — within one batch there is no delivery order
        // and dedupeBatch resolves it by max_by(ts, cents), not
        // last-delivered (the first run of this fuzz found exactly
        // that distinction at seed 2103)
        val committedKeys = live.keys.toVector
        val fresh = freshRows(1 + r.nextInt(5))
        val replay =
          if (r.nextBoolean() && committedKeys.nonEmpty) {
            val id = committedKeys(r.nextInt(committedKeys.size))
            val (u, e, i2, t, _) = live(id)
            val upd = (u, e, i2, t, (r.nextInt(9000) + 100) / 100.0)
            live(id) = upd
            Vector(upd)
          } else Vector.empty
        graft.sources.TsdbStore.upsertIncremental(
          spark, df(fresh ++ replay), p)
        readerSeesCommitted()
      }
    }
  }
}
