package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming surface (SURVEY.md §2 K): the reference's
  * poller → persist-queue → persister pipeline [pub: esxsnmp/poller.py,
  * persist.py TSDBPollPersister — unverified, SURVEY.md §0] re-expressed
  * as streaming DataFrames. Out-of-order tolerance (the reference's
  * offset addressing accepts late rows) becomes watermarks; the
  * per-insert Aggregator.update cascade becomes watermark+append
  * windowed aggregation; heartbeat-gap detection becomes custom state
  * via flatMapGroupsWithState.
  *
  * Every transform takes/returns DataFrames so the SAME code runs on
  * MemoryStream (tests), file streams (fixture), or Kafka (cluster).
  */
object StreamingOps {

  case class Meas(user_id: Long, event_type: String, ts_us: Long, cents: Long)
  case class GapAlert(user_id: Long, event_type: String,
      from_us: Long, to_us: Long, gap_us: Long)
  case class RateSample(user_id: Long, event_type: String, ts_us: Long,
      delta_cents: Long, dt_us: Long, rate: Double)
  /** [[Meas]] plus its event-time twin column — the analyzer insists the
    * watermarked column itself reaches a stateful operator's input. */
  case class MeasEt(user_id: Long, event_type: String, ts_us: Long,
      cents: Long, et: java.sql.Timestamp)

  /** File-source stream over the events fixture (one parquet = one
    * microbatch replay; on a cluster this is a directory listener).
    * Mirrors [[graft.Tables.events]]: if the fixture carries
    * TIMESTAMP(NANOS) it is read as raw nanos and floor-truncated to
    * µs; a µs fixture (the round-9 regeneration) passes through. */
  def eventFileStream(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val schema = spark.read.parquet(s"$dir/events.parquet").schema
    val raw = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1)
      .option("pathGlobFilter", "events.parquet")
      .parquet(dir)
    schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case _ => raw
    }
  }

  /** Normalize a raw event stream to measurements (ts as timestamp). */
  def asMeasurements(events: DataFrame): DataFrame =
    events.select(col("user_id"), col("event_type"), col("ts"),
      expr("CAST(round(value*100) AS BIGINT)").as("cents"))

  /** Tumbling 1 h counts with a 10 min watermark: late rows beyond the
    * watermark are dropped; append mode emits a window once final. */
  def tumblingCounts(m: DataFrame): DataFrame =
    m.withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum("cents").as("sum_cents"))
      .select(col("window.start").as("w_start"), col("event_type"),
        col("n"), col("sum_cents"))

  /** Sliding 1 h / 15 min variant. */
  def slidingCounts(m: DataFrame): DataFrame =
    m.withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour", "15 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("w_start"), col("event_type"), col("n"))

  /** Session windows (30 min inactivity gap) per user. */
  def sessionCounts(m: DataFrame): DataFrame =
    m.withWatermark("ts", "10 minutes")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .select(col("session_window.start").as("s_start"),
        col("session_window.end").as("s_end"), col("user_id"), col("n"))

  /** Stream-stream interval join: right events matched to left events
    * of the same key with `right.ts ∈ [left.ts, left.ts + windowUs)`.
    * Watermarks on BOTH sides plus the time-bound condition let Spark
    * age out join state — without the bound the state store grows
    * unboundedly (q_stream_join is the batch twin).
    *
    * @param left  (l_id, key, ts) @param right (r_id, key, ts) */
  def intervalJoinStream(left: DataFrame, right: DataFrame, windowUs: Long): DataFrame = {
    val l = left.toDF("l_id", "key", "l_ts").withWatermark("l_ts", "1 hour")
    val r = right.toDF("r_id", "r_key", "r_ts").withWatermark("r_ts", "1 hour")
    l.join(r,
      col("r_key") === col("key") &&
        col("r_ts") >= col("l_ts") &&
        col("r_ts") < col("l_ts") + expr(s"INTERVAL ${windowUs} MICROSECOND"))
      .select("l_id", "r_id")
  }

  /** Streaming dedup on event_id within the watermark — the idempotent
    * slot-upsert semantics, online. */
  def dedupStream(events: DataFrame): DataFrame =
    events.withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("event_id")

  /** Mode-dispatching form of [[dedupStream]]: Spark rejects
    * within-watermark dedup on a bounded input outright (there is no
    * watermark to bound the state), and on a bounded run the horizon
    * is effectively infinite anyway — so the batch twin is exact
    * dedup on the delivery key, the same answer the streaming form
    * converges to once every duplicate arrives inside the horizon. */
  def dedupEvents(events: DataFrame): DataFrame =
    if (events.isStreaming) dedupStream(events)
    else events.dropDuplicates("event_id")

  /** Streaming daily-active-users. count(DISTINCT …) is unsupported in
    * a streaming aggregation, so DAU online is the canonical two-stage
    * rewrite: watermark + dropDuplicates on (user, event_type, day
    * window) collapses each active (user, day) to exactly ONE state
    * row — the event-time window among the dedup keys lets the
    * watermark age that state out — then an ordinary windowed count
    * aggregates the survivors. State per day = one row per active
    * user, not per event; the batch twin of this question is
    * q_store_rollup_dau, which the rollup substitution answers from
    * the cascade's grain rows. Day windows close only after the
    * watermark passes midnight, so append mode emits each day once,
    * final. */
  def dauCounts(m: DataFrame): DataFrame =
    m.withWatermark("ts", "10 minutes")
      .select(col("user_id"), col("event_type"), window(col("ts"), "1 day").as("w"))
      .dropDuplicates("user_id", "event_type", "w")
      .groupBy(col("w"), col("event_type"))
      .agg(count(lit(1)).as("dau"))
      .select(col("w.start").as("w_start"), col("event_type"), col("dau"))

  /** Streaming ingest with ONLINE cascade maintenance — the poller →
    * persister pipeline end to end: each microbatch upserts into the
    * store and recomputes only the dt partitions it touched
    * ([[graft.sources.TsdbStore.upsertIncremental]]) — the streaming
    * form of the reference's per-insert Aggregator.update, with the
    * same last-write-wins late-data tolerance. Expects raw event rows
    * (user_id, event_type, event_id, ts, value). The store must use
    * the manifest layout; a stream into a fresh path calls
    * `TsdbStore.initStore(spark, path, StoreLayout(commit = "manifest"))`
    * first, since a path with no `_LAYOUT` reads as the rename layout.
    *
    * EXACTLY-ONCE (round 15, VERDICT r14 next #2): each microbatch's
    * id rides into the snapshot as a `streamhwm:<runNs>` property —
    * ONE atomic manifest create commits the data AND the high-water
    * mark, so a batch a recovering checkpoint re-delivers (sink
    * committed, checkpoint write lost to the crash) is recognized at
    * the property and skipped before any Spark job runs. `runNs`
    * namespaces the mark per checkpoint lineage (pass the checkpoint
    * dir's name; the empty default supports one lineage — resetting
    * the checkpoint while reusing the store needs a fresh runNs or
    * batch ids restart below the stored mark and no-op at the mark,
    * LOUDLY: the skip logs with full context, so a mis-lineaged stream
    * is observable, not silent data loss — ADVICE r15 #4). Passing
    * `checkpointLocation` HERE instead of setting the option on the
    * returned writer removes the hazard entirely: the run namespace is
    * then derived from the checkpoint path itself, so a NEW checkpoint
    * directory automatically gets a fresh namespace and its batch-0
    * restart can never hide below an old lineage's high-water mark. */
  def streamIngestIncremental(events: DataFrame, storePath: String,
      runNs: String = "",
      checkpointLocation: Option[String] = None): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    graft.sources.TsdbStore.requireManifest(events.sparkSession, storePath,
      "streamIngestIncremental")
    val ns =
      if (runNs.nonEmpty || checkpointLocation.isEmpty) runNs
      else { // one namespace per checkpoint path = one per lineage
        val digest = java.security.MessageDigest.getInstance("SHA-256")
          .digest(checkpointLocation.get.getBytes("UTF-8"))
        "ckpt-" + digest.take(8).map(b => f"$b%02x").mkString
      }
    val writer = events.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      graft.sources.TsdbStore.upsertIncremental(batch.sparkSession, batch, storePath,
        streamCommit = Some((ns, batchId))): Unit
    }
    checkpointLocation.fold(writer)(l => writer.option("checkpointLocation", l))
  }

  /** Online wrap-corrected counter RATES: keyed state holds the last
    * (ts, cents) per series; each arriving sample joins to its stored
    * predecessor and emits one validated delta — the streaming twin of
    * the batch rate cascade (same wrap arithmetic as `wrap_delta`,
    * same heartbeat invalidation: a delta across a gap > hbUs is
    * DROPPED, never interpolated). This is the reference's per-insert
    * online aggregation [pub: esxsnmp/persist.py Aggregator.update —
    * unverified, SURVEY.md §0] in its native streaming form: state is
    * 16 bytes per live series, so 10⁸ series fit one state store
    * comfortably. Within-batch rows process in ts order, making the
    * emitted multiset independent of microbatch boundary placement
    * (StreamingSpec pins stream == batch).
    *
    * `stateTtlUs > 0` bounds state for CHURNING series populations
    * (interfaces get deleted; "live series" is not monotone): a series
    * whose last sample falls `stateTtlUs` behind the EVENT-TIME
    * watermark has its 16 bytes dropped, and a sample arriving after
    * expiry re-seeds like a fresh series (its would-be delta is NOT
    * emitted). Expiry is event-time on purpose — a function of the
    * data, not the wall clock, so replays and backlogged catch-up runs
    * expire exactly the same states (a processing-time TTL would also
    * never quiesce: Spark reruns empty batches forever to poll wall
    * time, so processAllAvailable hangs). With ttl ≥ hbUs the emitted
    * rates are IDENTICAL to the unbounded-state form: any delta expiry
    * can lose spans an event-time gap > ttl ≥ heartbeat, which the
    * heartbeat rule drops anyway — the spec pins this equivalence.
    * Standard watermark contract applies: rows at-or-behind the
    * watermark are dropped before the operator, so `wmDelay` must cover
    * the source's out-of-orderness. With ttl = 0 (default) state is
    * unbounded, timeouts off, no watermark required. */
  /** [[onlineHolt]] input row: [[Meas]] plus the event_id that makes
    * the per-series sort key UNIQUE — a tied (series, ts_us) pair would
    * otherwise make the fold order (and so the smoothed state itself)
    * nondeterministic, the §7.4 hazard the repo-wide series-window
    * convention exists to prevent. */
  case class MeasK(user_id: Long, event_type: String, ts_us: Long,
      event_id: Long, cents: Long)
  /** Per-series Holt state: current level/trend plus the sample count. */
  case class HoltState(l: Double, b: Double, n: Long)
  /** One per-series smoothing snapshot, emitted after each microbatch
    * that touched the series. */
  case class HoltSnap(user_id: Long, event_type: String, n: Long,
      level: Double, trend: Double)

  /** ONLINE Holt double-exponential smoothing: 24 bytes of keyed state
    * per series — the streaming twin of the batch matrix-affine scan
    * (TimeSeriesOps.holtChunked). The state update IS the sequential
    * recurrence the chunked scan factors into affine pairs, so after
    * any microbatch placement of an in-order feed the online state
    * equals the scalar fold BIT-FOR-BIT (no regrouping happens online —
    * StreamingSpec pins exact equality across batch splits, and
    * agreement with holtChunked at the chunked scan's documented
    * ~1e-12 slack). Rows sort by the unique (ts_us, event_id) key
    * inside each batch; like [[onlineRates]], cross-batch order is the
    * poller contract (a watermarked source bounds the disorder; batch
    * evaluation sees every row in one group pass, so the batch-mode
    * result is the exact whole-series fold — `q_stream_holt` pins it
    * against the DuckDB fold UNROUNDED). Emits the post-batch
    * (n, level, trend) snapshot for each series the batch touched —
    * the "what is this series doing right now, where is it heading"
    * read a dashboard polls. */
  def onlineHolt(m: Dataset[MeasK], alpha: Double, beta: Double): Dataset[HoltSnap] = {
    val spark = m.sparkSession
    import spark.implicits._
    m.groupByKey(x => (x.user_id, x.event_type))
      .flatMapGroupsWithState[HoltState, HoltSnap](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case ((uid, etype), it, state: GroupState[HoltState]) =>
          val sorted = it.toSeq.sortBy(x => (x.ts_us, x.event_id))
          if (sorted.isEmpty) Iterator.empty
          else {
            var st = state.getOption
            sorted.foreach { x =>
              val v = x.cents.toDouble
              st = Some(st match {
                case None => HoltState(v, 0.0, 1L)
                case Some(HoltState(l, b, n)) =>
                  // textually the same step as HoltSpec's reference fold
                  val l2 = alpha * v + (1 - alpha) * (l + b)
                  val b2 = beta * (l2 - l) + (1 - beta) * b
                  HoltState(l2, b2, n + 1)
              })
            }
            val s = st.get
            state.update(s)
            Iterator.single(HoltSnap(uid, etype, s.n, s.l, s.b))
          }
      }
  }

  /** BOUNDED-MEMORY batch twin of [[onlineHolt]]: the same scalar Holt
    * fold in the same order — so results are BIT-IDENTICAL to the
    * online operator's bounded-input evaluation (StreamingSpec pins
    * it) — but evaluated as repartition-on-series →
    * sortWithinPartitions → one streaming group-boundary pass, so the
    * only per-series buffering is Spark's EXTERNAL sort (spillable,
    * visible to the TaskMemoryManager) and the fold itself carries
    * 24 bytes of running state regardless of series length. This is
    * the evaluation `q_stream_holt` declares: onlineHolt's
    * flatMapGroupsWithState on a bounded input materializes each whole
    * series via it.toSeq on plain JVM heap — fine per-microbatch
    * online, an unbounded untracked buffer at batch scale.
    * mapPartitions is justified the same way LTTB's is
    * (TimeSeriesOps.lttb): the recurrence is inherently
    * sequential per series and the group-boundary walk needs one
    * element of lookahead, nothing more. */
  def holtSequential(m: Dataset[MeasK], alpha: Double, beta: Double): Dataset[HoltSnap] = {
    val spark = m.sparkSession
    import spark.implicits._
    // hash-partition on the series keys only — group colocation is the
    // correctness requirement; the partition COUNT is whatever the
    // session's shuffle default resolves to (parsing the conf ourselves
    // broke on non-numeric values like "auto", ADVICE r11)
    m.repartition(col("user_id"), col("event_type"))
      .sortWithinPartitions("user_id", "event_type", "ts_us", "event_id")
      .mapPartitions { it =>
        val buf = it.buffered
        new Iterator[HoltSnap] {
          def hasNext: Boolean = buf.hasNext
          def next(): HoltSnap = {
            val first = buf.next()
            var l = first.cents.toDouble
            var b = 0.0
            var n = 1L
            while (buf.hasNext && buf.head.user_id == first.user_id &&
                buf.head.event_type == first.event_type) {
              val v = buf.next().cents.toDouble
              // textually the same step as onlineHolt's state update
              val l2 = alpha * v + (1 - alpha) * (l + b)
              b = beta * (l2 - l) + (1 - beta) * b
              l = l2
              n += 1
            }
            HoltSnap(first.user_id, first.event_type, n, l, b)
          }
        }
      }
  }

  def onlineRates(m: Dataset[Meas], hbUs: Long, wrapCap: Long,
                  stateTtlUs: Long = 0L,
                  wmDelay: String = "0 microseconds"): Dataset[RateSample] = {
    val spark = m.sparkSession
    import spark.implicits._
    val timeout =
      if (stateTtlUs > 0) GroupStateTimeout.EventTimeTimeout()
      else GroupStateTimeout.NoTimeout()
    // EventTimeTimeout needs a watermark, and the analyzer requires the
    // watermarked COLUMN to reach the stateful operator's input — so the
    // event-time column rides along in the typed row instead of being
    // projected away
    val src: Dataset[MeasEt] =
      if (stateTtlUs > 0)
        m.withColumn("et", timestamp_micros(col("ts_us")))
          .withWatermark("et", wmDelay).as[MeasEt]
      else
        m.withColumn("et", timestamp_micros(col("ts_us"))).as[MeasEt]
    src.groupByKey(x => (x.user_id, x.event_type))
      .flatMapGroupsWithState[(Long, Long), RateSample](
        OutputMode.Append(), timeout) {
        case ((uid, etype), it, state: GroupState[(Long, Long)]) =>
          if (state.hasTimedOut) {
            // watermark passed last_seen + ttl: drop the 16 bytes; the
            // series re-seeds on its next sample
            state.remove()
            Iterator.empty
          } else {
            val sorted = it.toSeq.sortBy(x => x.ts_us)
            val out = Seq.newBuilder[RateSample]
            var last = state.getOption
            sorted.foreach { x =>
              last.foreach { case (pts, pcents) =>
                val dtUs = x.ts_us - pts
                if (dtUs > 0 && dtUs <= hbUs) {
                  val d = ((x.cents - pcents) % wrapCap + wrapCap) % wrapCap
                  out += RateSample(uid, etype, x.ts_us, d, dtUs,
                    d / 100.0 / (dtUs / 1000000.0))
                }
              }
              last = Some((x.ts_us, x.cents))
            }
            last.foreach { s =>
              state.update(s)
              // a timeout behind the watermark is rejected by Spark, so
              // a late row (ts + ttl ≤ wm) clamps to wm+1: it expires at
              // the next watermark advance, same as if it had timed out
              if (stateTtlUs > 0)
                state.setTimeoutTimestamp(
                  math.max((s._1 + stateTtlUs) / 1000L,
                    state.getCurrentWatermarkMs() + 1))
            }
            out.result().iterator
          }
      }
  }

  /** One finished `quant_<step>` cell: the same (pri, value) parallel
    * arrays the batch cascade stores, emitted when the cell's state
    * expires. */
  case class QuantCell(user_id: Long, event_type: String, slot_ts: Long,
      pri: Array[Long], value: Array[Double])
  /** Internal pre-keyed row for [[onlineQuantileCells]]: priority and
    * slot are computed as COLUMNS (same xxhash64 / `div` expressions as
    * the batch build) so the online cells are bit-comparable, plus the
    * watermarked event-time column the analyzer requires. */
  case class QuantRow(user_id: Long, event_type: String, slot_ts: Long,
      pri: Long, v: Double, et: java.sql.Timestamp)

  /** ONLINE quantile-cascade maintenance: a bottom-k buffer per
    * (series, slot) in keyed state — the streaming twin of the store's
    * `quant_<step>` build (TsdbStore.quantAggFromBase), completing the
    * online story for the third column family the way [[onlineRates]]
    * does for rates. Rows fold in with DISTINCT-add semantics
    * (priority = xxhash64 of the row address, identical to the batch
    * build), so at-least-once re-delivery inside a cell's lifetime is
    * absorbed exactly like the batch distinct scan — the semilattice
    * makes microbatch placement, arrival order, AND duplicate count
    * invisible (StreamingSpec pins bit-equality against the batch
    * aggregator).
    *
    * Cells EMIT ON EXPIRY (event-time timeout at slot end + ttl,
    * clamped ahead of the watermark like [[onlineRates]]) — append-mode
    * final like a closed window, then the ≤16·K-byte state drops. Each
    * cell emits EXACTLY ONCE: expiry requires the watermark to pass
    * slot end + ttl, which is ≥ every member row's event time + ttl —
    * so any row arriving after its cell expired is necessarily behind
    * the watermark and is dropped by the standard late-data filter
    * BEFORE the operator. The TTL boundary can therefore never
    * fragment or corrupt a cell; `wmDelay + ttl` together bound the
    * accepted lateness, exactly like watermarked window aggregation in
    * append mode. Emitted cells are ttl-INVARIANT for any ttl (larger
    * ttl only delays emission and widens the lateness bound); the spec
    * pins bit-equality across ttls and the exactly-once contract.
    * State per live cell is ≤ K pairs ≈ 8 KB, one cell per series per
    * step — the same budget as the stored family it mirrors. */
  def onlineQuantileCells(m: DataFrame, stepSec: Long, stateTtlUs: Long,
                          wmDelay: String = "0 microseconds"): Dataset[QuantCell] = {
    require(stateTtlUs > 0, "onlineQuantileCells is expiry-driven: ttl must be > 0")
    val spark = m.sparkSession
    import spark.implicits._
    val stepUs = stepSec * 1000000L
    // recompute with the batch build's exact column expressions
    val keyed = m
      .select(col("user_id"), col("event_type"),
        (expr(s"ts_us div $stepUs") * stepSec).as("slot_ts"),
        xxhash64(col("user_id"), col("event_type"), col("event_id")).as("pri"),
        col("cents").cast("double").as("v"),
        timestamp_micros(col("ts_us")).as("et"))
      .withWatermark("et", wmDelay).as[QuantRow]
    keyed.groupByKey(x => (x.user_id, x.event_type, x.slot_ts))
      .flatMapGroupsWithState[graft.functions.BottomKSample.Buf, QuantCell](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case ((uid, etype, slot), it,
              state: GroupState[graft.functions.BottomKSample.Buf]) =>
          if (state.hasTimedOut) {
            val b = state.get
            state.remove()
            Iterator.single(QuantCell(uid, etype, slot, b.pri, b.value))
          } else {
            val b = it.foldLeft(
              state.getOption.getOrElse(graft.functions.BottomKSample.empty)) {
              (acc, x) => graft.functions.BottomKSample.addDistinct(acc, x.pri, x.v)
            }
            state.update(b)
            state.setTimeoutTimestamp(
              math.max((slot * 1000L + stepSec * 1000L) + stateTtlUs / 1000L,
                state.getCurrentWatermarkMs() + 1))
            Iterator.empty
          }
      }
  }

  /** Online heartbeat-gap detection: custom keyed state holding the
    * last-seen timestamp per series; a batch whose first event is more
    * than `hbUs` after the stored last-seen emits a GapAlert — the
    * streaming form of q_ts_heartbeat's invalidation rule. */
  def heartbeatGaps(m: Dataset[Meas], hbUs: Long): Dataset[GapAlert] = {
    val spark = m.sparkSession
    import spark.implicits._
    m.groupByKey(x => (x.user_id, x.event_type))
      .flatMapGroupsWithState[Long, GapAlert](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case ((uid, etype), it, state: GroupState[Long]) =>
          val sorted = it.toSeq.sortBy(x => x.ts_us)
          val alerts = Seq.newBuilder[GapAlert]
          var last = state.getOption
          sorted.foreach { x =>
            last.foreach { prev =>
              val gap = x.ts_us - prev
              if (gap > hbUs) alerts += GapAlert(uid, etype, prev, x.ts_us, gap)
            }
            last = Some(x.ts_us)
          }
          last.foreach(state.update)
          alerts.result().iterator
      }
  }
}
