package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.QueryDef
import graft.sources.{StoreFixture, TsdbStore}

/** SURVEY.md §2 N (round 3): queries that exercise the engine's OWN
  * storage layouts, not the flat fixture files.
  *
  * The store-backed fetches are the reference's flagship
  * `GET …?begin=&end=&agg=&cf=` path [pub: esxsnmp/newdb.py —
  * unverified, SURVEY.md §0] run against the dt-partitioned
  * [[TsdbStore]]: the time range prunes `dt=` partitions (chunk-file
  * addressing made real — PlanAuditSpec asserts PartitionFilters), the
  * series filter prunes row groups, and the aggregate fetch reads the
  * materialized cascade instead of raw samples. Oracles recompute the
  * same result from the raw events table, so the hash match also proves
  * the store's ingest+cascade faithful end to end.
  */
object StoreQueries {

  /** 2024-01-10T00Z and 2024-01-20T00Z — the flagship fetch range. */
  private val B = 1704844800L
  private val E = 1705708800L

  /** The rollup A/B pair's shared query shape: a DAY slot aggregation
    * over the store's BASE table. With the rewrite on this is an
    * EXACT-step hit on the materialized day cascade — a pure Project,
    * no aggregation, no shuffle; off, it re-scans and re-aggregates
    * every raw sample. (At this fixture's sampling density the day
    * cascade holds ~4x fewer rows than base; at a production 10 s poll
    * rate the ratio is ~8600x — the bench delta understates the
    * production win by that factor.) The base read resolves either
    * commit layout, so the manifest-store twin runs the IDENTICAL
    * aggregation text against its snapshot-resolved base. */
  private def rollupShape(s: org.apache.spark.sql.SparkSession,
                          store: String,
                          range: Option[(Long, Long)] = None): org.apache.spark.sql.DataFrame = {
    val base = TsdbStore.readTable(s, store, "base")
    val src = range match {
      case Some((b, e)) =>
        base.filter(col("ts_us") >= b * 1000000L && col("ts_us") < e * 1000000L)
      case None => base
    }
    src
      .filter(col("event_type").isin("click", "view"))
      .groupBy(col("user_id"), col("event_type"),
        graft.operators.TimeSeriesOps.slotSec(86400L).as("slot_ts"))
      .agg(count(lit(1)).as("n"), sum("cents").as("sum_cents"),
        min("cents").as("min_cents"), max("cents").as("max_cents"))
      .withColumn("avg_value",
        col("sum_cents").cast("double") / 100.0 / col("n").cast("double"))
      .orderBy("user_id", "event_type", "slot_ts")
  }

  /** Build `body`'s frame with the rollup-rewrite flag pinned to `on`,
    * restoring the session's previous value before returning (ADVICE r6
    * #4: the old set-and-leave leaked the flag into every later query —
    * correctness only held because _raw happened to run next). The flag
    * is read at OPTIMIZATION time, which a lazily-executed harness hits
    * after this closure returns — so the optimized plan is materialized
    * inside the scope; QueryExecution memoizes it, and the later action
    * reuses the already-rewritten (or deliberately raw) plan. */
  private def withRollupFlag(s: org.apache.spark.sql.SparkSession, on: Boolean)
      (body: => org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val key = "spark.graft.rollup.rewrite"
    val prev = s.conf.getOption(key)
    s.conf.set(key, on.toString)
    // FREEZE the optimized plan into the returned frame (round 10):
    // materializing optimizedPlan memoizes it only on THIS
    // QueryExecution — a later write/noop action (Verify's parquet
    // dump, Bench's noop sink) builds a NEW QueryExecution from the
    // analyzed plan and re-optimizes AFTER this scope restored the
    // flag, silently replanning the flag-on arm as raw. Wrapping the
    // already-optimized plan in a fresh frame makes the substitution
    // (or the deliberate raw form) part of the logical plan itself,
    // so every downstream action runs exactly the arm declared here.
    try {
      val df = body
      org.apache.spark.sql.graftshim.DatasetBridge
        .ofRows(s, df.queryExecution.optimizedPlan)
    }
    finally prev match {
      case Some(v) => s.conf.set(key, v)
      case None => s.conf.unset(key)
    }
  }

  /** The rate-rollup A/B pair's shared query shape: the canonical
    * wrap-corrected, heartbeat-validated counter-delta aggregate over
    * the store's BASE table at the 6h slot — textually a window + two
    * derived columns + filter + groupBy, which the rate-cascade
    * substitution collapses to a pure Project over `rate_21600`
    * (no window sort, no shuffle, raw never scanned). */
  private def rateRollupShape(s: org.apache.spark.sql.SparkSession,
                              store: String): org.apache.spark.sql.DataFrame = {
    val cap = graft.Tables.WrapCap
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id", "event_type").orderBy("ts_us", "event_id")
    TsdbStore.readTable(s, store, "base")
      .filter(col("event_type").isin("click", "view"))
      .withColumn("prev_cents", lag("cents", 1).over(w))
      .withColumn("prev_ts_us", lag("ts_us", 1).over(w))
      .withColumn("dt_us", col("ts_us") - col("prev_ts_us"))
      .withColumn("delta_cents",
        ((col("cents") - col("prev_cents")) % cap + cap) % cap)
      .filter(col("prev_ts_us").isNotNull && col("dt_us") <= 21600L * 1000000L)
      .groupBy(col("user_id"), col("event_type"),
        graft.operators.TimeSeriesOps.slotSec(21600L).as("slot_ts"))
      .agg(count(lit(1)).as("n_valid"), sum("delta_cents").as("delta_cents"),
        sum("dt_us").as("dt_us"))
      .orderBy("user_id", "event_type", "slot_ts")
  }

  private val RateRollupOracle =
    """WITH s AS (
      |  SELECT user_id, event_type, epoch_us(ts) AS ts_us, event_id,
      |         CAST(round(value*100) AS BIGINT) AS cents
      |  FROM events WHERE event_type IN ('click', 'view')
      |), r AS (
      |  SELECT user_id, event_type, ts_us, cents,
      |         lag(cents) OVER w AS prev_cents,
      |         lag(ts_us) OVER w AS prev_ts_us
      |  FROM s WINDOW w AS (PARTITION BY user_id, event_type
      |                      ORDER BY ts_us, event_id)
      |)
      |SELECT user_id, event_type, (ts_us // 21600000000) * 21600 AS slot_ts,
      |  CAST(count(*) AS BIGINT) AS n_valid,
      |  CAST(sum(((cents - prev_cents) % 1000000 + 1000000) % 1000000) AS BIGINT) AS delta_cents,
      |  CAST(sum(ts_us - prev_ts_us) AS BIGINT) AS dt_us
      |FROM r
      |WHERE prev_ts_us IS NOT NULL AND ts_us - prev_ts_us <= 21600000000
      |GROUP BY 1, 2, 3
      |ORDER BY user_id, event_type, slot_ts""".stripMargin

  /** The enriched-rollup A/B pair's shared shape: a fleet dashboard
    * aggregate over base JOINED to the metadata sidecar's CURRENT
    * snapshot (one row per user — join-key-unique), grouped by a
    * metadata attribute. The substitution unwraps the series-key
    * equi-join and rejoins the day cascade to the same dim subtree,
    * so the enriched rollup never rescans raw either. */
  private def enrichedRollupShape(s: org.apache.spark.sql.SparkSession,
                                  store: String): org.apache.spark.sql.DataFrame = {
    val dim = TsdbStore.readTable(s, store, "meta")
      .filter(col("valid_to_us") === lit(Long.MaxValue))
      .select(col("user_id"), expr("speed_cents div 1000").as("band"))
    TsdbStore.readTable(s, store, "base")
      .filter(col("ts_us") >= B * 1000000L && col("ts_us") < E * 1000000L)
      .join(broadcast(dim), "user_id")
      .groupBy(col("band"),
        graft.operators.TimeSeriesOps.slotSec(86400L).as("slot_ts"))
      .agg(count(lit(1)).as("n"), sum("cents").as("sum_cents"))
      .orderBy("band", "slot_ts")
  }

  private val EnrichedRollupOracle =
    s"""WITH m AS (
      |  SELECT user_id, CAST(round(value*100) AS BIGINT) AS speed_cents,
      |    row_number() OVER (PARTITION BY user_id
      |                       ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
      |  FROM events WHERE event_type = 'purchase'
      |), cur AS (
      |  SELECT user_id, speed_cents // 1000 AS band FROM m WHERE rn = 1
      |), c AS (
      |  SELECT cur.band,
      |    (epoch_us(e.ts) // 86400000000) * 86400 AS slot_ts,
      |    CAST(round(e.value*100) AS BIGINT) AS cents
      |  FROM events e JOIN cur ON e.user_id = cur.user_id
      |  WHERE epoch_us(e.ts) >= ${B}000000 AND epoch_us(e.ts) < ${E}000000
      |)
      |SELECT band, slot_ts, CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(cents) AS BIGINT) AS sum_cents
      |FROM c GROUP BY 1, 2
      |ORDER BY band, slot_ts""".stripMargin

  /** The quantile-rollup A/B pair's shared shape: an ad-hoc EXACT
    * nearest-rank p95 (percentile_disc) per (series, day) over the
    * store's BASE table — the quantile twin of [[rollupShape]]. */
  private def quantileRollupShape(s: org.apache.spark.sql.SparkSession,
                                  store: String): org.apache.spark.sql.DataFrame =
    TsdbStore.readTable(s, store, "base")
      .filter(col("event_type").isin("click", "view"))
      .filter(col("ts_us") >= B * 1000000L && col("ts_us") < E * 1000000L)
      .groupBy(col("user_id"), col("event_type"),
        graft.operators.TimeSeriesOps.slotSec(86400L).as("slot_ts"))
      .agg(expr("percentile_disc(0.95) WITHIN GROUP (ORDER BY cents)")
        .as("p95_cents"))
      .orderBy("user_id", "event_type", "slot_ts")

  private val QuantileRollupOracle =
    s"""WITH c AS (
      |  SELECT user_id, event_type,
      |    (epoch_us(ts) // 86400000000) * 86400 AS slot_ts,
      |    CAST(round(value*100) AS BIGINT) AS cents
      |  FROM events WHERE event_type IN ('click', 'view')
      |    AND epoch_us(ts) >= ${B}000000 AND epoch_us(ts) < ${E}000000
      |), r AS (
      |  SELECT user_id, event_type, slot_ts, cents,
      |    row_number() OVER (PARTITION BY user_id, event_type, slot_ts
      |                       ORDER BY cents) AS rn,
      |    count(*) OVER (PARTITION BY user_id, event_type, slot_ts) AS n
      |  FROM c
      |)
      |SELECT user_id, event_type, slot_ts, CAST(cents AS DOUBLE) AS p95_cents
      |FROM r WHERE rn = greatest(1, CAST(ceil(0.95 * n) AS BIGINT))
      |ORDER BY user_id, event_type, slot_ts""".stripMargin

  /** The ENRICHED-quantile A/B pair's shared shape (round 9): p95 per
    * METADATA attribute — base ⋈ current-version snapshot on the
    * series key, grouped by the dim's speed band at the 6h slot. The
    * substitution unwraps the unique dim join, proves every (band,
    * slot) GROUP (a union of per-series cells) sub-K off agg_21600,
    * and semilattice-merges quant_21600 per dim group — raw never
    * scanned. 6h, not day: a band unions many series' samples, and
    * the day grain would push fleet-dense groups past K at sf0.1
    * (where the rule would rightly decline and scan raw). */
  private def enrichedQuantileShape(s: org.apache.spark.sql.SparkSession,
                                    store: String): org.apache.spark.sql.DataFrame = {
    val dim = TsdbStore.readTable(s, store, "meta")
      .filter(col("valid_to_us") === lit(Long.MaxValue))
      .select(col("user_id"), expr("speed_cents div 1000").as("band"))
    TsdbStore.readTable(s, store, "base")
      .filter(col("ts_us") >= B * 1000000L && col("ts_us") < E * 1000000L)
      .join(broadcast(dim), "user_id")
      .groupBy(col("band"),
        graft.operators.TimeSeriesOps.slotSec(21600L).as("slot_ts"))
      .agg(expr("percentile_disc(0.95) WITHIN GROUP (ORDER BY cents)")
        .as("p95_cents"))
      .orderBy("band", "slot_ts")
  }

  private val EnrichedQuantileOracle =
    s"""WITH m AS (
      |  SELECT user_id, CAST(round(value*100) AS BIGINT) AS speed_cents,
      |    row_number() OVER (PARTITION BY user_id
      |                       ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
      |  FROM events WHERE event_type = 'purchase'
      |), cur AS (
      |  SELECT user_id, speed_cents // 1000 AS band FROM m WHERE rn = 1
      |), c AS (
      |  SELECT cur.band,
      |    (epoch_us(e.ts) // 21600000000) * 21600 AS slot_ts,
      |    CAST(round(e.value*100) AS BIGINT) AS cents
      |  FROM events e JOIN cur ON e.user_id = cur.user_id
      |  WHERE epoch_us(e.ts) >= ${B}000000 AND epoch_us(e.ts) < ${E}000000
      |), r AS (
      |  SELECT band, slot_ts, cents,
      |    row_number() OVER (PARTITION BY band, slot_ts ORDER BY cents) AS rn,
      |    count(*) OVER (PARTITION BY band, slot_ts) AS n
      |  FROM c
      |)
      |SELECT band, slot_ts, CAST(cents AS DOUBLE) AS p95_cents
      |FROM r WHERE rn = greatest(1, CAST(ceil(0.95 * n) AS BIGINT))
      |ORDER BY band, slot_ts""".stripMargin

  /** The INTERPOLATED-quantile A/B pair's shared shape: ANSI
    * percentile_cont (round 9) over the store's BASE table — same
    * grain as [[quantileRollupShape]], dyadic quantiles so the
    * interpolation weights are exact dyadic rationals and both
    * engines' formula variants produce bit-identical doubles. */
  private def quantileContRollupShape(s: org.apache.spark.sql.SparkSession,
                                      store: String): org.apache.spark.sql.DataFrame =
    TsdbStore.readTable(s, store, "base")
      .filter(col("event_type").isin("click", "view"))
      .filter(col("ts_us") >= B * 1000000L && col("ts_us") < E * 1000000L)
      .groupBy(col("user_id"), col("event_type"),
        graft.operators.TimeSeriesOps.slotSec(86400L).as("slot_ts"))
      .agg(
        expr("percentile_cont(0.25) WITHIN GROUP (ORDER BY cents)").as("p25_cents"),
        expr("percentile_cont(0.75) WITHIN GROUP (ORDER BY cents)").as("p75_cents"))
      .orderBy("user_id", "event_type", "slot_ts")

  private val QuantileContRollupOracle =
    s"""WITH c AS (
      |  SELECT user_id, event_type,
      |    (epoch_us(ts) // 86400000000) * 86400 AS slot_ts,
      |    CAST(round(value*100) AS BIGINT) AS cents
      |  FROM events WHERE event_type IN ('click', 'view')
      |    AND epoch_us(ts) >= ${B}000000 AND epoch_us(ts) < ${E}000000
      |)
      |SELECT user_id, event_type, slot_ts,
      |  quantile_cont(cents, 0.25) AS p25_cents,
      |  quantile_cont(cents, 0.75) AS p75_cents
      |FROM c GROUP BY 1, 2, 3
      |ORDER BY user_id, event_type, slot_ts""".stripMargin

  /** [[rollupOracle]]'s twin against the MUTATED manifest fixture: the
    * upsert's replayed window carries +1.0 values for user 7's clicks,
    * and series (5, view) is deleted. */
  private val manifestRollupOracle: String =
    s"""WITH c AS (
      |  SELECT user_id, event_type,
      |    (epoch_us(ts) // 86400000000) * 86400 AS slot_ts,
      |    CASE WHEN user_id = 7 AND event_type = 'click'
      |           AND epoch_us(ts) >= 1704758400000000
      |           AND epoch_us(ts) < 1705104000000000
      |      THEN CAST(round((value+1.0)*100) AS BIGINT)
      |      ELSE CAST(round(value*100) AS BIGINT) END AS cents
      |  FROM events WHERE event_type IN ('click', 'view')
      |    AND NOT (user_id = 5 AND event_type = 'view')
      |)
      |SELECT user_id, event_type, slot_ts,
      |  CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(cents) AS BIGINT) AS sum_cents,
      |  CAST(min(cents) AS BIGINT) AS min_cents,
      |  CAST(max(cents) AS BIGINT) AS max_cents,
      |  CAST(sum(cents) AS DOUBLE)/100.0/CAST(count(*) AS DOUBLE) AS avg_value
      |FROM c GROUP BY 1, 2, 3
      |ORDER BY user_id, event_type, slot_ts""".stripMargin

  private def rollupOracle(rangePred: String = ""): String =
    s"""WITH c AS (
      |  SELECT user_id, event_type,
      |    (epoch_us(ts) // 86400000000) * 86400 AS slot_ts,
      |    CAST(round(value*100) AS BIGINT) AS cents
      |  FROM events WHERE event_type IN ('click', 'view')$rangePred
      |)
      |SELECT user_id, event_type, slot_ts,
      |  CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(cents) AS BIGINT) AS sum_cents,
      |  CAST(min(cents) AS BIGINT) AS min_cents,
      |  CAST(max(cents) AS BIGINT) AS max_cents,
      |  CAST(sum(cents) AS DOUBLE)/100.0/CAST(count(*) AS DOUBLE) AS avg_value
      |FROM c GROUP BY 1, 2, 3
      |ORDER BY user_id, event_type, slot_ts""".stripMargin

  /** The M4 endpoint rollup's A/B shape: min/max plus the
    * first/last-per-slot pair over the store's base table — the viz
    * downsample family ([[graft.queries.TsQueries]] q_ts_downsample_m4)
    * expressed against the store, where round 10's endpoint cascade
    * columns let [[graft.plans.RollupSubstitution]] serve all four
    * extrema from `agg_86400` (first/last are the stored lexicographic
    * struct min/max of (ts_us, event_id, cents) — argmin/argmax as a
    * monoid) instead of re-scanning raw. */
  private def rollupM4Shape(s: org.apache.spark.sql.SparkSession,
                            store: String): org.apache.spark.sql.DataFrame =
    TsdbStore.readTable(s, store, "base")
      .filter(col("event_type").isin("click", "view"))
      .groupBy(col("user_id"), col("event_type"),
        graft.operators.TimeSeriesOps.slotSec(86400L).as("slot_ts"))
      .agg(count(lit(1)).as("n"),
        (min("cents").cast("double") / 100.0).as("min_val"),
        (max("cents").cast("double") / 100.0).as("max_val"),
        (min_by(col("cents"), struct(col("ts_us"), col("event_id")))
          .cast("double") / 100.0).as("first_val"),
        (max_by(col("cents"), struct(col("ts_us"), col("event_id")))
          .cast("double") / 100.0).as("last_val"))
      .orderBy("user_id", "event_type", "slot_ts")

  private val rollupM4Oracle: String =
    """WITH c AS (
      |  SELECT user_id, event_type, event_id, epoch_us(ts) AS ts_us,
      |    (epoch_us(ts) // 86400000000) * 86400 AS slot_ts,
      |    CAST(round(value*100) AS BIGINT) AS cents
      |  FROM events WHERE event_type IN ('click', 'view')
      |)
      |SELECT user_id, event_type, slot_ts,
      |  CAST(count(*) AS BIGINT) AS n,
      |  CAST(min(cents) AS DOUBLE)/100.0 AS min_val,
      |  CAST(max(cents) AS DOUBLE)/100.0 AS max_val,
      |  CAST(first(cents ORDER BY ts_us, event_id) AS DOUBLE)/100.0 AS first_val,
      |  CAST(last(cents ORDER BY ts_us, event_id) AS DOUBLE)/100.0 AS last_val
      |FROM c GROUP BY 1, 2, 3
      |ORDER BY user_id, event_type, slot_ts""".stripMargin

  val all: Seq[QueryDef] = Seq(

    QueryDef("q_store_fetch",
      s"""SELECT epoch_us(ts) AS ts_us,
         |  CAST(CAST(round(value*100) AS BIGINT) AS DOUBLE)/100.0 AS value
         |FROM events
         |WHERE user_id = 7 AND event_type = 'click'
         |  AND epoch_us(ts) >= ${B}000000 AND epoch_us(ts) < ${E}000000
         |ORDER BY ts_us""".stripMargin) { (s, d) =>
      // raw-resolution fetch: dt partition pruning + ts_us row-group
      // pruning + column pruning — the three-level addressing story
      TsdbStore.fetch(s, StoreFixture.store(s, d), 7L, "click", B, E)
    },

    QueryDef("q_store_manifest_fetch",
      s"""SELECT epoch_us(ts) AS ts_us,
         |  CAST(CASE WHEN epoch_us(ts) >= 1704758400000000
         |              AND epoch_us(ts) < 1705104000000000
         |         THEN CAST(round((value+1.0)*100) AS BIGINT)
         |         ELSE CAST(round(value*100) AS BIGINT) END
         |       AS DOUBLE)/100.0 AS value
         |FROM events
         |WHERE user_id = 7 AND event_type = 'click'
         |  AND epoch_us(ts) >= ${B}000000 AND epoch_us(ts) < ${E}000000
         |ORDER BY ts_us""".stripMargin) { (s, d) =>
      // raw fetch from the MANIFEST-committed store (snapshot-resolved
      // segment reads, StoreManifest) AFTER its maintenance lifecycle:
      // the oracle recomputes the replayed window's last-write-wins
      // values from raw events — the hash match certifies the upsert
      // merge, the touched-partition compaction, and the vacuum left exactly
      // the right live rows on the object-store-safe layout
      TsdbStore.fetch(s, StoreFixture.manifestStore(s, d), 7L, "click", B, E)
    },

    QueryDef("q_store_manifest_bulk",
      s"""WITH c AS (
         |  SELECT user_id, event_type,
         |         (epoch_us(ts) // 21600000000) * 21600 AS slot_ts,
         |         CASE WHEN user_id = 7 AND event_type = 'click'
         |                AND epoch_us(ts) >= 1704758400000000
         |                AND epoch_us(ts) < 1705104000000000
         |           THEN CAST(round((value+1.0)*100) AS BIGINT)
         |           ELSE CAST(round(value*100) AS BIGINT) END AS cents
         |  FROM events
         |  WHERE (user_id = 5 AND event_type = 'click')
         |     OR (user_id = 7 AND event_type = 'click')
         |)
         |SELECT user_id, event_type, slot_ts,
         |  CAST(sum(cents) AS DOUBLE)/100.0/CAST(count(*) AS DOUBLE) AS value
         |FROM c WHERE slot_ts >= $B AND slot_ts < $E
         |GROUP BY 1, 2, 3
         |ORDER BY user_id, event_type, slot_ts""".stripMargin) { (s, d) =>
      // consolidated bulk fetch from the manifest store's 6h cascade,
      // REQUESTING the deleted series (5, view) alongside two live
      // ones: the oracle simply omits it, so the hash match proves the
      // snapshot-committed deletion removed the series from the
      // cascade everywhere — and that the incremental upsert's
      // touched-partition recompute propagated the replay into the
      // aggregates
      TsdbStore.fetchBulk(s, StoreFixture.manifestStore(s, d),
        Seq((5L, "view"), (5L, "click"), (7L, "click")), B, E, 21600L)
    },

    QueryDef("q_store_fetch_agg",
      s"""WITH c AS (
         |  SELECT (epoch_us(ts) // 21600000000) * 21600 AS slot_ts,
         |         CAST(round(value*100) AS BIGINT) AS cents
         |  FROM events WHERE user_id = 3 AND event_type = 'view'
         |)
         |SELECT slot_ts,
         |  CAST(sum(cents) AS DOUBLE)/100.0/CAST(count(*) AS DOUBLE) AS value
         |FROM c WHERE slot_ts >= $B AND slot_ts < $E
         |GROUP BY slot_ts ORDER BY slot_ts""".stripMargin) { (s, d) =>
      // consolidated fetch served from the materialized 6h cascade —
      // the read never touches raw samples; the oracle recomputes from
      // raw, so the match proves the cascade's contents
      TsdbStore.fetch(s, StoreFixture.store(s, d), 3L, "view", B, E,
        aggStep = 21600L, cf = "average")
    },

    QueryDef("q_store_fetch_last",
      s"""WITH c AS (
         |  SELECT (epoch_us(ts) // 21600000000) * 21600 AS slot_ts,
         |         epoch_us(ts) AS ts_us, event_id,
         |         CAST(round(value*100) AS BIGINT) AS cents
         |  FROM events WHERE user_id = 3 AND event_type = 'view'
         |)
         |SELECT slot_ts,
         |  CAST(last(cents ORDER BY ts_us, event_id) AS DOUBLE)/100.0 AS value
         |FROM c WHERE slot_ts >= $B AND slot_ts < $E
         |GROUP BY slot_ts ORDER BY slot_ts""".stripMargin) { (s, d) =>
      // the LAST consolidation function (round 10 — the endpoint cf the
      // RRD lineage ships alongside avg/min/max): served from the
      // cascade's stored per-cell argmax struct, so the read is the
      // same pruned agg_<step> scan as every value cf — no window, no
      // raw re-scan. Oracle recomputes the per-slot last sample
      // (ordered by the unique (ts, event_id)) from raw events
      TsdbStore.fetch(s, StoreFixture.store(s, d), 3L, "view", B, E,
        aggStep = 21600L, cf = "last")
    },

    QueryDef("q_store_fetch_first",
      s"""WITH c AS (
         |  SELECT (epoch_us(ts) // 21600000000) * 21600 AS slot_ts,
         |         epoch_us(ts) AS ts_us, event_id,
         |         CAST(round(value*100) AS BIGINT) AS cents
         |  FROM events WHERE user_id = 3 AND event_type = 'view'
         |)
         |SELECT slot_ts,
         |  CAST(first(cents ORDER BY ts_us, event_id) AS DOUBLE)/100.0 AS value
         |FROM c WHERE slot_ts >= $B AND slot_ts < $E
         |GROUP BY slot_ts ORDER BY slot_ts""".stripMargin) { (s, d) =>
      // the FIRST endpoint cf (round 11 — q_store_fetch_last's mirror,
      // declared so BOTH ends of the stored per-cell argmin/argmax
      // endpoint pair carry an oracle row): same pruned agg_<step>
      // scan, the stored argmin struct's cents projected. Oracle
      // recomputes the per-slot first sample (ordered by the unique
      // (ts, event_id)) from raw events
      TsdbStore.fetch(s, StoreFixture.store(s, d), 3L, "view", B, E,
        aggStep = 21600L, cf = "first")
    },

    QueryDef("q_store_bulk",
      s"""WITH c AS (
         |  SELECT user_id, event_type,
         |         (epoch_us(ts) // 21600000000) * 21600 AS slot_ts,
         |         CAST(round(value*100) AS BIGINT) AS cents
         |  FROM events
         |  WHERE (user_id = 1 AND event_type = 'click')
         |     OR (user_id = 2 AND event_type = 'view')
         |)
         |SELECT user_id, event_type, slot_ts,
         |  CAST(sum(cents) AS DOUBLE)/100.0/CAST(count(*) AS DOUBLE) AS value
         |FROM c WHERE slot_ts >= $B AND slot_ts < $E
         |GROUP BY user_id, event_type, slot_ts
         |ORDER BY user_id, event_type, slot_ts""".stripMargin) { (s, d) =>
      // POST /bulk: many series in ONE pruned scan with an IN-list of
      // series keys (the reference looped per path; Spark shouldn't)
      TsdbStore.fetchBulk(s, StoreFixture.store(s, d),
        Seq((1L, "click"), (2L, "view")), B, E, aggStep = 21600L)
    },

    QueryDef("q_store_fetch_rate",
      s"""WITH s AS (
         |  SELECT epoch_us(ts) AS ts_us, event_id,
         |         CAST(round(value*100) AS BIGINT) AS cents
         |  FROM events WHERE user_id = 7 AND event_type = 'click'
         |), r AS (
         |  SELECT ts_us, cents,
         |         lag(cents) OVER w AS prev_cents,
         |         lag(ts_us) OVER w AS prev_ts_us
         |  FROM s WINDOW w AS (ORDER BY ts_us, event_id)
         |)
         |SELECT (ts_us // 21600000000) * 21600 AS slot_ts,
         |  CAST(sum(((cents - prev_cents) % 1000000 + 1000000) % 1000000) AS DOUBLE)/100.0 AS value
         |FROM r
         |WHERE prev_ts_us IS NOT NULL AND ts_us - prev_ts_us <= 21600000000
         |  AND (ts_us // 21600000000) * 21600 >= $B
         |  AND (ts_us // 21600000000) * 21600 < $E
         |GROUP BY 1 ORDER BY slot_ts""".stripMargin) { (s, d) =>
      // cf=delta served from the materialized RATE cascade (VERDICT r3
      // missing #1/#3): wrap-corrected, heartbeat-validated counter
      // deltas per slot — the reference Aggregator's actual content.
      // The oracle recomputes the deltas from raw events, so the hash
      // match proves the rate cascade end to end.
      TsdbStore.fetch(s, StoreFixture.store(s, d), 7L, "click", B, E,
        aggStep = 21600L, cf = "delta")
    },

    QueryDef("q_store_fetch_rate_avg",
      s"""WITH s AS (
         |  SELECT epoch_us(ts) AS ts_us, event_id,
         |         CAST(round(value*100) AS BIGINT) AS cents
         |  FROM events WHERE user_id = 3 AND event_type = 'view'
         |), r AS (
         |  SELECT ts_us, cents,
         |         lag(cents) OVER w AS prev_cents,
         |         lag(ts_us) OVER w AS prev_ts_us
         |  FROM s WINDOW w AS (ORDER BY ts_us, event_id)
         |)
         |SELECT (ts_us // 86400000000) * 86400 AS slot_ts,
         |  CASE WHEN sum(ts_us - prev_ts_us) > 0 THEN
         |    (CAST(sum(((cents - prev_cents) % 1000000 + 1000000) % 1000000) AS DOUBLE)/100.0)
         |    / (CAST(sum(ts_us - prev_ts_us) AS DOUBLE)/1000000.0) END AS value
         |FROM r
         |WHERE prev_ts_us IS NOT NULL AND ts_us - prev_ts_us <= 21600000000
         |  AND (ts_us // 86400000000) * 86400 >= $B
         |  AND (ts_us // 86400000000) * 86400 < $E
         |GROUP BY 1 ORDER BY slot_ts""".stripMargin) { (s, d) =>
      // cf=rate at the DAILY level — served from the coarse rate table,
      // which is built from the 6h one (sum-of-sums), so the match also
      // proves the rate cascade's aggregate-of-aggregate step
      TsdbStore.fetch(s, StoreFixture.store(s, d), 3L, "view", B, E,
        aggStep = 86400L, cf = "rate")
    },

    QueryDef("q_store_fetch_month",
      s"""WITH c AS (
         |  SELECT (epoch_us(ts) // 86400000000) * 86400 AS slot_ts,
         |         CAST(round(value*100) AS BIGINT) AS cents
         |  FROM events WHERE user_id = 5 AND event_type = 'view'
         |)
         |SELECT slot_ts, CAST(max(cents) AS DOUBLE)/100.0 AS value
         |FROM c WHERE slot_ts >= $B AND slot_ts < $E
         |GROUP BY slot_ts ORDER BY slot_ts""".stripMargin) { (s, d) =>
      // the monthly chunk mapping (dt=YYYY-MM — the reference's
      // YYYYMMChunkMapper for low-rate series): same fetch contract,
      // month-granular partition pruning (PlanAuditSpec asserts it)
      TsdbStore.fetch(s, StoreFixture.storeMonthly(s, d), 5L, "view", B, E,
        aggStep = 86400L, cf = "max")
    },

    QueryDef("q_store_fetch_auto",
      s"""WITH c AS (
         |  SELECT (epoch_us(ts) // 21600000000) * 21600 AS slot_ts,
         |         CAST(round(value*100) AS BIGINT) AS cents
         |  FROM events WHERE user_id = 2 AND event_type = 'click'
         |)
         |SELECT slot_ts, CAST(sum(cents) AS DOUBLE)/100.0 AS value
         |FROM c WHERE slot_ts >= $B AND slot_ts < $E
         |GROUP BY slot_ts ORDER BY slot_ts""".stripMargin) { (s, d) =>
      // best-aggregate selection: a 12 h output resolution is served
      // from the 6 h cascade (coarsest step dividing it), never raw —
      // the oracle recomputes those 6 h slots from raw events, so the
      // hash proves BOTH the selection (21600, asserted here) and the
      // cascade contents
      val (step, df) = TsdbStore.fetchAuto(s, StoreFixture.store(s, d),
        2L, "click", B, E, resolutionSec = 43200L, cf = "sum")
      require(step == 21600L, s"expected the 6h cascade, got $step")
      df
    },

    QueryDef("q_store_fetch_filled",
      s"""WITH c AS (
         |  SELECT (epoch_us(ts) // 21600000000) * 21600 AS slot_ts,
         |         CAST(round(value*100) AS BIGINT) AS cents
         |  FROM events WHERE user_id = 7 AND event_type = 'click'
         |), h AS (
         |  SELECT slot_ts,
         |    CAST(sum(cents) AS DOUBLE)/100.0/CAST(count(*) AS DOUBLE) AS v
         |  FROM c WHERE slot_ts >= $B AND slot_ts < $E GROUP BY slot_ts
         |)
         |SELECT g.slot_ts, h.v AS value
         |FROM range($B, $E, 21600) g(slot_ts)
         |LEFT JOIN h ON h.slot_ts = g.slot_ts
         |ORDER BY g.slot_ts""".stripMargin) { (s, d) =>
      // the REST-parity dense grid (VERDICT r5 missing #1): one row per
      // 6h slot over [begin,end), absent slots NULL — served by the
      // store itself (grid generator + broadcast re-attach of the
      // pruned cascade read), not re-implemented by the consumer. The
      // oracle rebuilds the grid from raw events via range(), so the
      // hash match proves grid alignment AND cascade contents
      TsdbStore.fetchFilled(s, StoreFixture.store(s, d), 7L, "click", B, E,
        aggStep = 21600L, cf = "average", fill = "null")
    },

    QueryDef("q_store_fetch_interp",
      s"""WITH c AS (
         |  SELECT (epoch_us(ts) // 21600000000) * 21600 AS slot_ts,
         |         CAST(round(value*100) AS BIGINT) AS cents
         |  FROM events WHERE user_id = 65 AND event_type = 'error'
         |), h AS (
         |  SELECT slot_ts, CAST(max(cents) AS DOUBLE)/100.0 AS v
         |  FROM c WHERE slot_ts >= $B AND slot_ts < $E GROUP BY slot_ts
         |), gf AS (
         |  SELECT g.slot_ts, h.v
         |  FROM range($B, $E, 21600) g(slot_ts)
         |  LEFT JOIN h ON h.slot_ts = g.slot_ts
         |), n AS (
         |  SELECT slot_ts, v,
         |    max(CASE WHEN v IS NOT NULL THEN slot_ts END) OVER wp AS prev_ts,
         |    last_value(v IGNORE NULLS) OVER wp AS prev_val,
         |    min(CASE WHEN v IS NOT NULL THEN slot_ts END) OVER wf AS next_ts,
         |    first_value(v IGNORE NULLS) OVER wf AS next_val
         |  FROM gf
         |  WINDOW wp AS (ORDER BY slot_ts
         |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         |         wf AS (ORDER BY slot_ts
         |                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
         |)
         |SELECT slot_ts,
         |  CASE WHEN v IS NOT NULL THEN v
         |       WHEN prev_val IS NULL OR next_val IS NULL THEN NULL
         |       ELSE prev_val + (next_val - prev_val) *
         |            (CAST(slot_ts - prev_ts AS DOUBLE) / CAST(next_ts - prev_ts AS DOUBLE))
         |  END AS value
         |FROM n ORDER BY slot_ts""".stripMargin) { (s, d) =>
      // fill = interp: interior gaps take the q_ts_gap_interp linear
      // form between nearest valid neighbours; leading/trailing gaps
      // stay NULL. UNROUNDED (§7.4) — the identical IEEE tree is the
      // cross-engine contract. cf = max keeps present slots on exact
      // two-decimal doubles
      TsdbStore.fetchFilled(s, StoreFixture.store(s, d), 65L, "error", B, E,
        aggStep = 21600L, cf = "max", fill = "interp")
    },

    QueryDef("q_store_bulk_rate",
      s"""WITH s AS (
         |  SELECT user_id, event_type, epoch_us(ts) AS ts_us, event_id,
         |         CAST(round(value*100) AS BIGINT) AS cents
         |  FROM events
         |  WHERE (user_id = 18 AND event_type = 'error')
         |     OR (user_id = 43 AND event_type = 'click')
         |), r AS (
         |  SELECT user_id, event_type, ts_us, cents,
         |         lag(cents) OVER w AS prev_cents,
         |         lag(ts_us) OVER w AS prev_ts_us
         |  FROM s WINDOW w AS (PARTITION BY user_id, event_type
         |                      ORDER BY ts_us, event_id)
         |)
         |SELECT user_id, event_type, (ts_us // 21600000000) * 21600 AS slot_ts,
         |  CAST(sum(((cents - prev_cents) % 1000000 + 1000000) % 1000000) AS DOUBLE)/100.0 AS value
         |FROM r
         |WHERE prev_ts_us IS NOT NULL AND ts_us - prev_ts_us <= 21600000000
         |  AND (ts_us // 21600000000) * 21600 >= $B
         |  AND (ts_us // 21600000000) * 21600 < $E
         |GROUP BY 1, 2, 3
         |ORDER BY user_id, event_type, slot_ts""".stripMargin) { (s, d) =>
      // bulk cf dispatch (VERDICT r5 missing #2): many series, counter
      // cf, ONE pruned scan of the rate cascade. The oracle recomputes
      // wrap-corrected, heartbeat-validated deltas from raw events for
      // both series, so the match proves the bulk path reads the same
      // rate cascade the single-series fetch does
      TsdbStore.fetchBulk(s, StoreFixture.store(s, d),
        Seq((18L, "error"), (43L, "click")), B, E, aggStep = 21600L, cf = "delta")
    },

    QueryDef("q_store_bulk_auto",
      s"""WITH c AS (
         |  SELECT user_id, event_type,
         |         (epoch_us(ts) // 21600000000) * 21600 AS slot_ts,
         |         CAST(round(value*100) AS BIGINT) AS cents
         |  FROM events
         |  WHERE (user_id = 1 AND event_type = 'click')
         |     OR (user_id = 5 AND event_type = 'view')
         |)
         |SELECT user_id, event_type, slot_ts,
         |  CAST(min(cents) AS DOUBLE)/100.0 AS value
         |FROM c WHERE slot_ts >= $B AND slot_ts < $E
         |GROUP BY user_id, event_type, slot_ts
         |ORDER BY user_id, event_type, slot_ts""".stripMargin) { (s, d) =>
      // bulk best-aggregate selection: a 12 h output resolution serves
      // both series from the 6 h cascade in one pruned scan
      val (step, df) = TsdbStore.fetchBulkAuto(s, StoreFixture.store(s, d),
        Seq((1L, "click"), (5L, "view")), B, E, resolutionSec = 43200L, cf = "min")
      require(step == 21600L, s"expected the 6h cascade, got $step")
      df
    },

    QueryDef("q_store_meta_asof",
      s"""WITH p AS (
         |  SELECT user_id, event_id AS ver_id, epoch_us(ts) AS v_us,
         |         CAST(round(value*100) AS BIGINT) AS speed_cents
         |  FROM events WHERE event_type = 'purchase'
         |), e AS (
         |  SELECT user_id, event_id, epoch_us(ts) AS ts_us
         |  FROM events WHERE event_type = 'click'
         |    AND epoch_us(ts) >= ${B}000000 AND epoch_us(ts) < ${E}000000
         |), j AS (
         |  SELECT e.event_id, p.ver_id, p.speed_cents,
         |         row_number() OVER (PARTITION BY e.event_id
         |             ORDER BY p.v_us DESC NULLS LAST,
         |                      p.ver_id DESC NULLS LAST) AS rn
         |  FROM e LEFT JOIN p ON p.user_id = e.user_id AND p.v_us <= e.ts_us
         |)
         |SELECT event_id, ver_id,
         |  CAST(speed_cents AS DOUBLE)/100.0 AS speed
         |FROM j WHERE rn = 1 ORDER BY event_id""".stripMargin) { (s, d) =>
      // store-resident metadata sidecar (VERDICT r5 missing #3): the
      // IfRef lookup served from the store's own layout — pruned base
      // scan as-of joined to the persisted versions table through the
      // native co-partitioned AsofJoin exec (no broadcast). The oracle
      // recomputes validity resolution from raw events, so the match
      // proves the sidecar's derived intervals AND the merge exec
      TsdbStore.fetchMetaAsof(s, StoreFixture.store(s, d), "click", B, E)
        .select(col("event_id"), col("ver_id"),
          (col("speed_cents").cast("double") / 100.0).as("speed"))
        .orderBy("event_id")
    },

    QueryDef("q_store_bulk_filled",
      s"""WITH c AS (
         |  SELECT user_id, event_type,
         |         (epoch_us(ts) // 21600000000) * 21600 AS slot_ts,
         |         CAST(round(value*100) AS BIGINT) AS cents
         |  FROM events
         |  WHERE (user_id = 7 AND event_type = 'click')
         |     OR (user_id = 3 AND event_type = 'view')
         |), h AS (
         |  SELECT user_id, event_type, slot_ts,
         |    CAST(sum(cents) AS DOUBLE)/100.0/CAST(count(*) AS DOUBLE) AS v
         |  FROM c WHERE slot_ts >= $B AND slot_ts < $E
         |  GROUP BY user_id, event_type, slot_ts
         |)
         |SELECT CAST(k.user_id AS BIGINT) AS user_id, k.event_type,
         |  g.slot_ts, h.v AS value
         |FROM range($B, $E, 21600) g(slot_ts)
         |CROSS JOIN (VALUES (7, 'click'), (3, 'view')) k(user_id, event_type)
         |LEFT JOIN h ON h.user_id = k.user_id AND h.event_type = k.event_type
         |  AND h.slot_ts = g.slot_ts
         |ORDER BY k.user_id, k.event_type, g.slot_ts""".stripMargin) { (s, d) =>
      // the bulk REST surface completed: dense per-series slot grids for
      // a MULTI-series request served from ONE pruned cascade scan —
      // the request list is literal (request-sized), the grid a range
      // generator, the re-attach a broadcast of the <=one-row-per-cell
      // fetched side. Oracle rebuilds both grids from raw events
      TsdbStore.fetchBulkFilled(s, StoreFixture.store(s, d),
        Seq((7L, "click"), (3L, "view")), B, E, aggStep = 21600L,
        cf = "average")
    },

    QueryDef("q_sql_fetch_tvf",
      s"""WITH c AS (
         |  SELECT (epoch_us(ts) // 21600000000) * 21600 AS slot_ts,
         |         CAST(round(value*100) AS BIGINT) AS cents
         |  FROM events WHERE user_id = 5 AND event_type = 'error'
         |)
         |SELECT slot_ts, CAST(max(cents) AS DOUBLE)/100.0 AS value
         |FROM c WHERE slot_ts >= $B AND slot_ts < $E
         |GROUP BY slot_ts ORDER BY slot_ts""".stripMargin) { (s, d) =>
      // the reference's REST fetch as a SQL TABLE FUNCTION
      // (injectTableFunction via GraftExtensions): the SQL text resolves
      // to the SAME pruned plan the Scala API builds — partition
      // pruning, cascade read, cf dispatch intact — so SQL-only
      // consumers get entry point 1 without touching the Scala API.
      // Oracle recomputes the 6h max consolidation from raw events
      val store = StoreFixture.store(s, d)
      s.sql(s"SELECT * FROM graft_fetch('$store', 5, 'error', $B, $E, 21600, 'max')")
    },

    QueryDef("q_sql_fetch_bulk_tvf",
      s"""WITH c AS (
         |  SELECT user_id, event_type,
         |         (epoch_us(ts) // 21600000000) * 21600 AS slot_ts,
         |         CAST(round(value*100) AS BIGINT) AS cents
         |  FROM events
         |  WHERE (user_id = 4 AND event_type = 'click')
         |     OR (user_id = 9 AND event_type = 'view')
         |)
         |SELECT user_id, event_type, slot_ts,
         |  CAST(sum(cents) AS DOUBLE)/100.0 AS value
         |FROM c WHERE slot_ts >= $B AND slot_ts < $E
         |GROUP BY user_id, event_type, slot_ts
         |ORDER BY user_id, event_type, slot_ts""".stripMargin) { (s, d) =>
      // POST /bulk for SQL-only consumers (VERDICT r6 next #2): the
      // flat alternating (uid, type) tail resolves to fetchBulk's ONE
      // pruned scan with an IN-list of series keys — the same plan the
      // Scala API builds. Oracle recomputes the 6h sums from raw events
      val store = StoreFixture.store(s, d)
      s.sql(s"""SELECT * FROM graft_fetch_bulk('$store', $B, $E, 21600, 'sum',
               |  4, 'click', 9, 'view')""".stripMargin)
    },

    QueryDef("q_sql_fetch_filled_tvf",
      s"""WITH c AS (
         |  SELECT (epoch_us(ts) // 21600000000) * 21600 AS slot_ts,
         |         CAST(round(value*100) AS BIGINT) AS cents
         |  FROM events WHERE user_id = 2 AND event_type = 'view'
         |), h AS (
         |  SELECT slot_ts, CAST(min(cents) AS DOUBLE)/100.0 AS v
         |  FROM c WHERE slot_ts >= $B AND slot_ts < $E GROUP BY slot_ts
         |)
         |SELECT g.slot_ts, h.v AS value
         |FROM range($B, $E, 21600) g(slot_ts)
         |LEFT JOIN h ON h.slot_ts = g.slot_ts
         |ORDER BY g.slot_ts""".stripMargin) { (s, d) =>
      // the REST-parity dense grid for SQL-only consumers: graft_fetch_
      // filled resolves to fetchFilled's grid-generator + pruned-scan
      // plan. Oracle rebuilds the grid from raw events via range()
      val store = StoreFixture.store(s, d)
      s.sql(
        s"SELECT * FROM graft_fetch_filled('$store', 2, 'view', $B, $E, 21600, 'min')")
    },

    QueryDef("q_store_manifest_rollup",
      manifestRollupOracle) { (s, d) =>
      // the flagship optimizer capability ON the flagship deployment
      // layout (round 15, VERDICT r14 next #1): the identical day-slot
      // aggregation text as q_store_rollup, but the base read resolves
      // through a MANIFEST snapshot (explicit-PartitionSpec single
      // relation over live `_segs/...` partition dirs) — and the
      // rewrite substitutes the day cascade READ UNDER THE SAME
      // SNAPSHOT PROTOCOL. The oracle recomputes from raw events with
      // the fixture's full mutation history applied (upsert shift,
      // series delete), so the hash match proves the substituted
      // cascade is the post-maintenance truth; RollupSpec pins that
      // the plan actually switched tables on the manifest layout
      val store = StoreFixture.manifestStore(s, d)
      withRollupFlag(s, on = true)(rollupShape(s, store))
    },

    QueryDef("q_store_manifest_rollup_raw",
      manifestRollupOracle) { (s, d) =>
      // A/B control: identical text against the same manifest store,
      // flag off — BENCH carries the manifest substituted-vs-raw pair
      val store = StoreFixture.manifestStore(s, d)
      withRollupFlag(s, on = false)(rollupShape(s, store))
    },

    QueryDef("q_store_manifest_asof",
      s"""WITH c AS (
         |  SELECT user_id, event_type,
         |         (epoch_us(ts) // 21600000000) * 21600 AS slot_ts,
         |         CASE WHEN user_id = 7 AND event_type = 'click'
         |                AND epoch_us(ts) >= 1704758400000000
         |                AND epoch_us(ts) < 1705104000000000
         |           THEN CAST(round((value+1.0)*100) AS BIGINT)
         |           ELSE CAST(round(value*100) AS BIGINT) END AS cents
         |  FROM events
         |  WHERE (user_id = 5 AND event_type = 'view')
         |     OR (user_id = 7 AND event_type = 'click')
         |)
         |SELECT user_id, event_type, slot_ts,
         |  CAST(sum(cents) AS DOUBLE)/100.0/CAST(count(*) AS DOUBLE) AS value
         |FROM c WHERE slot_ts >= $B AND slot_ts < $E
         |GROUP BY 1, 2, 3
         |ORDER BY user_id, event_type, slot_ts""".stripMargin) { (s, d) =>
      // TIME TRAVEL under the oracle gate (round 15, VERDICT r14 next
      // #3): fetch the 6h cascade from the RETAINED pre-delete
      // snapshot — series (5, view) is GONE from the live snapshot
      // (q_store_manifest_bulk proves that), but the as-of read serves
      // it, WITH the earlier upsert's replay applied. The oracle
      // recomputes that exact historical truth from raw events, so
      // snapshot isolation is a hash-checked correctness contract, not
      // just a ManifestCommitSpec mechanic
      val store = StoreFixture.manifestStore(s, d)
      val versions = TsdbStore.snapshotVersions(s, store)
      val preDelete = versions.init.lastOption.getOrElse(versions.last)
      TsdbStore.fetchBulk(s, store, Seq((5L, "view"), (7L, "click")),
        B, E, 21600L, atVersion = Some(preDelete))
    },

    QueryDef("q_store_manifest_evolve",
      """WITH c AS (
        |  SELECT event_type,
        |    CASE WHEN user_id = 7 AND event_type = 'click'
        |           AND epoch_us(ts) >= 1704758400000000
        |           AND epoch_us(ts) < 1705104000000000
        |      THEN CAST(round((value+1.0)*100) AS BIGINT)
        |      ELSE CAST(round(value*100) AS BIGINT) END AS cents,
        |    CASE WHEN user_id = 7 AND event_type = 'click'
        |           AND epoch_us(ts) >= 1704758400000000
        |           AND epoch_us(ts) < 1705104000000000
        |      THEN CAST(round((value+1.0)*2.0*100) AS BIGINT) END AS q_cents
        |  FROM events
        |)
        |SELECT event_type, count(*) AS n_rows, count(q_cents) AS n_evolved,
        |  CAST(sum(cents) AS BIGINT) AS sum_cents,
        |  CAST(sum(q_cents) AS BIGINT) AS sum_quality_cents
        |FROM c GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, d) =>
      // ADDITIVE SCHEMA EVOLUTION under the oracle gate (round 16,
      // VERDICT r15 missing #3): the store's base holds MIXED segments
      // — pre-evolution files without `quality` (null-completed at
      // read under the snapshot's DECLARED schema; addColumn was a
      // pure metadata commit that reused every table manifest) and the
      // upsert's files carrying it. One aggregation reads across both
      // vintages; the oracle recomputes the same truth from raw
      // events, so null-completion, the declared-schema read path, and
      // the evolved mutation surface all sit under the driver's hash
      // gate. Quality sums ride as round(×100) BIGINTs — §7.4's
      // integer-sum rule (cross-engine double summation order differs)
      val store = StoreFixture.manifestStoreEvolved(s, d)
      TsdbStore.readTable(s, store, "base")
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_rows"),
          count("quality").as("n_evolved"),
          sum("cents").as("sum_cents"),
          sum(expr("CAST(round(quality*100) AS BIGINT)")).as("sum_quality_cents"))
        .orderBy("event_type")
    },

    QueryDef("q_store_manifest_rename",
      """WITH c AS (
        |  SELECT event_type,
        |    CASE WHEN (user_id = 7 AND event_type = 'click'
        |               AND epoch_us(ts) >= 1704758400000000
        |               AND epoch_us(ts) < 1705104000000000)
        |           OR (epoch_us(ts) >= 1705190400000000
        |               AND epoch_us(ts) < 1705363200000000)
        |      THEN CAST(round((value+1.0)*100) AS BIGINT)
        |      ELSE CAST(round(value*100) AS BIGINT) END AS cents,
        |    CASE WHEN user_id = 7 AND event_type = 'click'
        |           AND epoch_us(ts) >= 1704758400000000
        |           AND epoch_us(ts) < 1705104000000000
        |      THEN CAST(round((value+1.0)*2.0*100) AS BIGINT)
        |    WHEN epoch_us(ts) >= 1705190400000000
        |           AND epoch_us(ts) < 1705363200000000
        |      THEN CAST(round((value+1.0)*3.0*100) AS BIGINT) END AS q_cents
        |  FROM events
        |)
        |SELECT event_type, count(*) AS n_rows, count(q_cents) AS n_scored,
        |  CAST(sum(cents) AS BIGINT) AS sum_cents,
        |  CAST(sum(q_cents) AS BIGINT) AS sum_score_cents
        |FROM c GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, d) =>
      // RENAME schema evolution under the oracle gate (round 17,
      // VERDICT r16 missing #2): the fixture's base mixes THREE file
      // vintages — pre-evolution (no column), pre-rename (`quality`),
      // post-rename (`quality_score`) — and renameColumn touched no
      // data file. One aggregation resolves all three through the
      // name-history read path (historical names requested as ghost
      // columns, coalesced newest-first into the current name, inside
      // whole-stage codegen); the oracle recomputes the same truth
      // from raw events, so a value lost (or doubled) by the rename
      // resolution at any vintage is a hash mismatch. Score sums ride
      // as round(×100) BIGINTs per §7.4's integer-sum rule
      val store = StoreFixture.manifestStoreRenamed(s, d)
      TsdbStore.readTable(s, store, "base")
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_rows"),
          count("quality_score").as("n_scored"),
          sum("cents").as("sum_cents"),
          sum(expr("CAST(round(quality_score*100) AS BIGINT)"))
            .as("sum_score_cents"))
        .orderBy("event_type")
    },

    QueryDef("q_store_manifest_delete_rows",
      """SELECT level, event_type, n_rows, sum_cents FROM (
        |  SELECT 'base' AS level, event_type, count(*) AS n_rows,
        |         CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS sum_cents
        |  FROM events
        |  WHERE NOT (user_id = 5 AND event_type = 'view')
        |    AND NOT (user_id = 7 AND event_type = 'click')
        |  GROUP BY event_type
        |  UNION ALL
        |  SELECT 'agg_21600' AS level, event_type, count(*) AS n_rows,
        |         CAST(sum(s) AS BIGINT) AS sum_cents
        |  FROM (
        |    SELECT event_type, user_id,
        |           (epoch_us(ts) // 21600000000) * 21600 AS slot_ts,
        |           sum(CAST(round(value*100) AS BIGINT)) AS s
        |    FROM events
        |    WHERE NOT (user_id = 5 AND event_type = 'view')
        |      AND NOT (user_id = 7 AND event_type = 'click')
        |    GROUP BY 1, 2, 3
        |  ) GROUP BY event_type
        |) ORDER BY level, event_type""".stripMargin) { (s, d) =>
      // MERGE-ON-READ row-level deletes under the oracle gate (round
      // 17, VERDICT r16 missing #1): the fixture's erasure of series
      // (5, view) and (7, click) was a metadata-sized commit — every
      // data file still CONTAINS the rows; manifestRead's delete
      // filter (inline NOT-predicate, inside the scan's codegen) is
      // the only thing excluding them. Reading base AND the 6h value
      // cascade pins that the refs attached at every level; the
      // oracle recomputes both levels from raw events with the keys
      // excluded, so a resurrected row at either level is a hash
      // mismatch
      val store = StoreFixture.manifestStoreDeleted(s, d)
      val base = TsdbStore.readTable(s, store, "base")
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_rows"),
          sum("cents").cast("long").as("sum_cents"))
        .withColumn("level", lit("base"))
      val agg = TsdbStore.readTable(s, store, "agg_21600")
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_rows"),
          sum("sum_cents").cast("long").as("sum_cents"))
        .withColumn("level", lit("agg_21600"))
      base.unionByName(agg)
        .select("level", "event_type", "n_rows", "sum_cents")
        .orderBy("level", "event_type")
    },

    QueryDef("q_stream_store_tail",
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS sum_cents,
        |  count(DISTINCT user_id) AS n_users,
        |  CAST(0 AS BIGINT) AS version_span
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, d) =>
      // the store's CHANGE-DATA-FEED as a REAL Structured Streaming
      // run (round 16, VERDICT r15 next #7): StoreTailSource tails the
      // manifest snapshot log (offsets ARE snapshot versions; each new
      // segment's rows emit exactly once), Trigger.AvailableNow drains
      // it into a memory sink, and the aggregation over the drained
      // feed hash-matches a raw-events oracle — on the pristine
      // single-snapshot store the full tail IS the base content, and
      // version_span = max(_version) − min(_version) = 0 pins that
      // every row was attributed to that one snapshot. The incremental
      // delta/replay/retention semantics live in StreamingSpec (no SQL
      // oracle can express a checkpoint resume)
      val store = StoreFixture.manifestStorePristine(s, d)
      val sink = "store_tail_" + java.util.UUID.randomUUID().toString.replace("-", "")
      val q = s.readStream
        .format(classOf[graft.sources.StoreTailSource].getName)
        .option("path", store)
        .load()
        .writeStream.format("memory").queryName(sink)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      try q.awaitTermination() finally q.stop()
      s.table(sink)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("cents").as("sum_cents"),
          countDistinct("user_id").as("n_users"),
          (max("_version") - min("_version")).as("version_span"))
        .orderBy("event_type")
    },

    QueryDef("q_store_rollup",
      rollupOracle()) { (s, d) =>
      // materialized-rollup substitution (graft.plans.RollupSubstitution,
      // the OLAP aggregate-navigation rewrite as a Catalyst rule): the
      // query TEXT aggregates the raw base table at 12 h slots, but the
      // optimizer substitutes the 6 h cascade and re-aggregates it —
      // the oracle recomputes from raw events, so the hash match proves
      // the rewritten plan is answer-identical; RollupSpec proves the
      // plan actually switched tables (and that maintenance paths are
      // immune). At 100 TB: |series|·4 rows/day scanned instead of
      // every raw sample
      val store = StoreFixture.store(s, d)
      withRollupFlag(s, on = true)(rollupShape(s, store))
    },

    QueryDef("q_store_rollup_raw",
      rollupOracle()) { (s, d) =>
      // the A/B control for q_store_rollup: the IDENTICAL query text
      // with the rewrite flag off, so BENCH carries the
      // substituted-vs-raw pair side by side (and the driver's hash
      // gate proves both answer-identical)
      val store = StoreFixture.store(s, d)
      withRollupFlag(s, on = false)(rollupShape(s, store))
    },

    QueryDef("q_store_rollup_m4",
      rollupM4Oracle) { (s, d) =>
      // the M4 viz-downsample shape served from the cascade (VERDICT r9
      // missing #2): min/max/first/last per (series, day) — the
      // endpoint pair reads the stored argmin/argmax structs, so the
      // whole 4-extrema render query touches |series|·days cascade
      // rows, never raw. Oracle recomputes from raw events; RollupSpec
      // pins that the plan actually switched tables
      val store = StoreFixture.store(s, d)
      withRollupFlag(s, on = true)(rollupM4Shape(s, store))
    },

    QueryDef("q_store_rollup_m4_raw",
      rollupM4Oracle) { (s, d) =>
      // A/B control: identical text, flag off
      val store = StoreFixture.store(s, d)
      withRollupFlag(s, on = false)(rollupM4Shape(s, store))
    },

    QueryDef("q_store_rollup_range",
      rollupOracle(
        s"\n    AND epoch_us(ts) >= ${B}000000 AND epoch_us(ts) < ${E}000000")) { (s, d) =>
      // the dashboard shape that actually occurs in the wild (VERDICT
      // r6 next #1): the SAME rollup aggregation carrying a WHERE
      // ts BETWEEN … range. Both bounds are midnight-UTC epochs —
      // multiples of the day cascade's step — so slot membership is
      // decided by the floor-div and the range transfers EXACTLY as
      // slot_ts bounds (plus derived dt partition pruning) onto the
      // substituted cascade scan. The oracle recomputes from raw
      // events, so the hash match proves the transferred plan
      // answer-identical; RollupSpec pins the plan shape (cascade
      // scanned, base gone, bounds present)
      val store = StoreFixture.store(s, d)
      withRollupFlag(s, on = true)(rollupShape(s, store, Some((B, E))))
    },

    QueryDef("q_store_rollup_range_raw",
      rollupOracle(
        s"\n    AND epoch_us(ts) >= ${B}000000 AND epoch_us(ts) < ${E}000000")) { (s, d) =>
      // A/B control: identical text, flag off — BENCH carries the
      // substituted-vs-raw range pair side by side
      val store = StoreFixture.store(s, d)
      withRollupFlag(s, on = false)(rollupShape(s, store, Some((B, E))))
    },

    QueryDef("q_store_rollup_split",
      rollupOracle(
        s"\n    AND epoch_us(ts) >= ${B + 3600}000000 AND epoch_us(ts) < ${E - 7200}000000")) { (s, d) =>
      // the UNALIGNED dashboard range (now()-anchored bounds are almost
      // never step-aligned): the rewrite SPLITS it — the largest
      // day-aligned interior serves from the agg_86400 cascade, the two
      // sub-cell boundary pieces serve from raw rows dt-pruned to one
      // partition each, unioned as monoid tuples under one
      // re-aggregation. Oracle recomputes the whole range from raw
      val store = StoreFixture.store(s, d)
      withRollupFlag(s, on = true)(
        rollupShape(s, store, Some((B + 3600L, E - 7200L))))
    },

    QueryDef("q_store_rollup_split_raw",
      rollupOracle(
        s"\n    AND epoch_us(ts) >= ${B + 3600}000000 AND epoch_us(ts) < ${E - 7200}000000")) { (s, d) =>
      // A/B control: identical text, flag off
      val store = StoreFixture.store(s, d)
      withRollupFlag(s, on = false)(
        rollupShape(s, store, Some((B + 3600L, E - 7200L))))
    },

    QueryDef("q_store_rollup_total",
      s"""WITH c AS (
         |  SELECT user_id, event_type,
         |    CAST(round(value*100) AS BIGINT) AS cents
         |  FROM events WHERE event_type IN ('click', 'view')
         |    AND epoch_us(ts) >= ${B}000000 AND epoch_us(ts) < ${E}000000
         |)
         |SELECT user_id, event_type,
         |  CAST(count(*) AS BIGINT) AS n,
         |  CAST(sum(cents) AS BIGINT) AS sum_cents,
         |  CAST(min(cents) AS BIGINT) AS min_cents,
         |  CAST(max(cents) AS BIGINT) AS max_cents
         |FROM c GROUP BY 1, 2
         |ORDER BY user_id, event_type""".stripMargin) { (s, d) =>
      // the SLOTLESS per-series range total — "totals per series last
      // N days", the commonest dashboard aggregate of all: no slot in
      // the grouping, so the rewrite re-aggregates the COARSEST cascade
      // level over the range (day rows, not raw samples). Oracle
      // recomputes from raw
      val store = StoreFixture.store(s, d)
      withRollupFlag(s, on = true) {
        TsdbStore.readTable(s, store, "base")
          .filter(col("ts_us") >= B * 1000000L && col("ts_us") < E * 1000000L)
          .filter(col("event_type").isin("click", "view"))
          .groupBy(col("user_id"), col("event_type"))
          .agg(count(lit(1)).as("n"), sum("cents").as("sum_cents"),
            min("cents").as("min_cents"), max("cents").as("max_cents"))
          .orderBy("user_id", "event_type")
      }
    },

    QueryDef("q_store_rollup_total_raw",
      s"""WITH c AS (
         |  SELECT user_id, event_type,
         |    CAST(round(value*100) AS BIGINT) AS cents
         |  FROM events WHERE event_type IN ('click', 'view')
         |    AND epoch_us(ts) >= ${B}000000 AND epoch_us(ts) < ${E}000000
         |)
         |SELECT user_id, event_type,
         |  CAST(count(*) AS BIGINT) AS n,
         |  CAST(sum(cents) AS BIGINT) AS sum_cents,
         |  CAST(min(cents) AS BIGINT) AS min_cents,
         |  CAST(max(cents) AS BIGINT) AS max_cents
         |FROM c GROUP BY 1, 2
         |ORDER BY user_id, event_type""".stripMargin) { (s, d) =>
      // A/B control: identical text, flag off
      val store = StoreFixture.store(s, d)
      withRollupFlag(s, on = false) {
        TsdbStore.readTable(s, store, "base")
          .filter(col("ts_us") >= B * 1000000L && col("ts_us") < E * 1000000L)
          .filter(col("event_type").isin("click", "view"))
          .groupBy(col("user_id"), col("event_type"))
          .agg(count(lit(1)).as("n"), sum("cents").as("sum_cents"),
            min("cents").as("min_cents"), max("cents").as("max_cents"))
          .orderBy("user_id", "event_type")
      }
    },

    QueryDef("q_store_rollup_avg",
      s"""WITH c AS (
         |  SELECT user_id, event_type,
         |    (epoch_us(ts) // 43200000000) * 43200 AS slot_ts,
         |    CAST(round(value*100) AS BIGINT) AS cents
         |  FROM events WHERE event_type IN ('click', 'view')
         |    AND epoch_us(ts) >= ${B}000000 AND epoch_us(ts) < ${E}000000
         |)
         |SELECT user_id, event_type, slot_ts,
         |  CAST(sum(cents) AS DOUBLE)/CAST(count(*) AS DOUBLE) AS avg_cents,
         |  CAST(count(*) AS BIGINT) AS n
         |FROM c GROUP BY 1, 2, 3
         |ORDER BY user_id, event_type, slot_ts""".stripMargin) { (s, d) =>
      // NATIVE avg() through the rollup substitution: the cascade
      // stores both halves of the fraction, so average — the
      // reference's default consolidation function — rewrites to
      // sum(sum_cents)/sum(n) over the 6h cascade (12h slots
      // re-aggregate it; the range bounds transfer as slot_ts + dt
      // prunes). The co-requested count shares the sum(n) leaf. Oracle
      // recomputes sum/count from raw — the same exact-integer
      // division the substituted plan performs
      val store = StoreFixture.store(s, d)
      withRollupFlag(s, on = true) {
        TsdbStore.readTable(s, store, "base")
          .filter(col("ts_us") >= B * 1000000L && col("ts_us") < E * 1000000L)
          .filter(col("event_type").isin("click", "view"))
          .groupBy(col("user_id"), col("event_type"),
            graft.operators.TimeSeriesOps.slotSec(43200L).as("slot_ts"))
          .agg(avg("cents").as("avg_cents"), count(lit(1)).as("n"))
          .orderBy("user_id", "event_type", "slot_ts")
      }
    },

    QueryDef("q_store_rollup_avg_raw",
      s"""WITH c AS (
         |  SELECT user_id, event_type,
         |    (epoch_us(ts) // 43200000000) * 43200 AS slot_ts,
         |    CAST(round(value*100) AS BIGINT) AS cents
         |  FROM events WHERE event_type IN ('click', 'view')
         |    AND epoch_us(ts) >= ${B}000000 AND epoch_us(ts) < ${E}000000
         |)
         |SELECT user_id, event_type, slot_ts,
         |  CAST(sum(cents) AS DOUBLE)/CAST(count(*) AS DOUBLE) AS avg_cents,
         |  CAST(count(*) AS BIGINT) AS n
         |FROM c GROUP BY 1, 2, 3
         |ORDER BY user_id, event_type, slot_ts""".stripMargin) { (s, d) =>
      // A/B control: identical text, flag off — native avg() over raw
      // samples (Spark's double accumulation; identical while every
      // partial sum is an integer below 2^53, which cents sums are)
      val store = StoreFixture.store(s, d)
      withRollupFlag(s, on = false) {
        TsdbStore.readTable(s, store, "base")
          .filter(col("ts_us") >= B * 1000000L && col("ts_us") < E * 1000000L)
          .filter(col("event_type").isin("click", "view"))
          .groupBy(col("user_id"), col("event_type"),
            graft.operators.TimeSeriesOps.slotSec(43200L).as("slot_ts"))
          .agg(avg("cents").as("avg_cents"), count(lit(1)).as("n"))
          .orderBy("user_id", "event_type", "slot_ts")
      }
    },

    QueryDef("q_store_rollup_enriched",
      EnrichedRollupOracle) { (s, d) =>
      // substitution ABOVE a broadcast dim join (RollupSubstitution
      // round 8): the enriched-dashboard shape — base ⋈ metadata
      // snapshot, grouped by a METADATA attribute — used to block the
      // rewrite; now the rule proves the dim side join-key-unique (one
      // bounded count over the version-sized sidecar) and rejoins the
      // day cascade to the same dim subtree: raw is never rescanned
      // for enriched rollups either. Oracle recomputes snapshot + join
      // + aggregate from raw events
      val store = StoreFixture.store(s, d)
      withRollupFlag(s, on = true)(enrichedRollupShape(s, store))
    },

    QueryDef("q_store_rollup_enriched_raw",
      EnrichedRollupOracle) { (s, d) =>
      // A/B control: identical text, flag off — the join fans the dim
      // value out to every raw sample before aggregating
      val store = StoreFixture.store(s, d)
      withRollupFlag(s, on = false)(enrichedRollupShape(s, store))
    },

    QueryDef("q_store_rollup_quantile",
      QuantileRollupOracle) { (s, d) =>
      // quantile-cascade substitution (RollupSubstitution
      // .rewriteQuantile, round 8): the query TEXT is an ad-hoc
      // percentile_disc — SQL's exact nearest-rank quantile — over the
      // raw base table, but the optimizer proves every evaluated
      // (series, day) cell holds < K=512 samples (one bounded
      // aggregate over the agg_86400 monoid counts, never raw) and
      // serves the EXACT answer from the quant_86400 bottom-k family:
      // an exact-grain hit, so a pure Project over stored buffers —
      // no sort, no shuffle, raw never scanned. The oracle recomputes
      // nearest-rank from raw events; RollupSpec pins the plan switch
      // and the ≥K decline
      val store = StoreFixture.store(s, d)
      withRollupFlag(s, on = true)(quantileRollupShape(s, store))
    },

    QueryDef("q_store_rollup_quantile_raw",
      QuantileRollupOracle) { (s, d) =>
      // A/B control: identical text, flag off — percentile_disc sorts
      // raw samples per group (the full sort-based exact quantile)
      val store = StoreFixture.store(s, d)
      withRollupFlag(s, on = false)(quantileRollupShape(s, store))
    },

    QueryDef("q_store_rollup_quantile_enriched",
      EnrichedQuantileOracle) { (s, d) =>
      // enriched + quantile COMPOSED (round 9): the text joins the
      // base table to the metadata snapshot and asks p95 per (band,
      // 6h) — the rule unwraps the unique dim join (the round-8
      // enriched machinery), proves every band group sub-K summing
      // agg_21600 counts per dim group, and serves the answer by
      // joining quant_21600 to the UNTOUCHED dim subtree and
      // semilattice-merging sketches per (band, slot). The p95 a
      // dashboard shows per plan tier, without rescanning raw
      val store = StoreFixture.store(s, d)
      withRollupFlag(s, on = true)(enrichedQuantileShape(s, store))
    },

    QueryDef("q_store_rollup_quantile_enriched_raw",
      EnrichedQuantileOracle) { (s, d) =>
      // A/B control: identical text, flag off — the join fans the
      // band onto every raw sample and percentile_disc sorts per group
      val store = StoreFixture.store(s, d)
      withRollupFlag(s, on = false)(enrichedQuantileShape(s, store))
    },

    QueryDef("q_store_rollup_quantile_cont",
      QuantileContRollupOracle) { (s, d) =>
      // INTERPOLATED-quantile substitution (round 9): the text is ANSI
      // percentile_cont over raw samples — which resolves to the
      // Percentile aggregate before the optimizer runs — and the rule
      // serves it from the same quant_86400 buffers as the disc path:
      // a sub-K cell's bottom-k sample IS its full multiset, and the
      // rewrite mirrors PercentileBase's interpolation arithmetic
      // bit-for-bit ((higher−pos)·v_lo + (pos−lower)·v_hi with the
      // equal-keys short-circuit), so rewritten == raw == oracle.
      // Dyadic quantiles (¼, ¾) keep the weights exact so DuckDB's
      // formula variant agrees bitwise too
      val store = StoreFixture.store(s, d)
      withRollupFlag(s, on = true)(quantileContRollupShape(s, store))
    },

    QueryDef("q_store_rollup_quantile_cont_raw",
      QuantileContRollupOracle) { (s, d) =>
      // A/B control: identical text, flag off — percentile_cont sorts
      // raw samples per group
      val store = StoreFixture.store(s, d)
      withRollupFlag(s, on = false)(quantileContRollupShape(s, store))
    },

    QueryDef("q_store_quantile",
      s"""WITH c AS (
         |  SELECT (epoch_us(ts) // 86400000000) * 86400 AS slot_ts,
         |    CAST(round(value*100) AS BIGINT) AS cents
         |  FROM events WHERE user_id = 7 AND event_type = 'click'
         |    AND epoch_us(ts) >= ${B}000000 AND epoch_us(ts) < ${E}000000
         |), r AS (
         |  SELECT slot_ts, cents,
         |    row_number() OVER (PARTITION BY slot_ts ORDER BY cents) AS rn,
         |    count(*) OVER (PARTITION BY slot_ts) AS n
         |  FROM c
         |)
         |SELECT slot_ts, CAST(cents AS DOUBLE)/100.0 AS value
         |FROM r WHERE rn = greatest(1, CAST(ceil(0.95 * n) AS BIGINT))
         |ORDER BY slot_ts""".stripMargin) { (s, d) =>
      // percentile dashboards from the QUANTILE column family: per-slot
      // bottom-k sketches materialized at ingest (quant_<step>), merged
      // at read time — raw samples never rescanned. The buffer is a
      // semilattice, so the stored-merge read is bit-identical to a
      // one-pass sketch over raw at ANY scale (QuantCascadeSpec); below
      // K=512 samples per evaluated slot it holds EVERY sample, so this
      // p95 is the exact nearest-rank quantile the oracle recomputes
      // from raw (ceil(q*n), the q_ts_p95_billing convention)
      TsdbStore.fetchQuantile(s, StoreFixture.store(s, d),
        7L, "click", B, E, 86400L, 0.95)
    },

    QueryDef.noOracle("q_store_rollup_quantile_approx") { (s, d) =>
      // the OVER-DENSE quantile shape with the opt-in estimate (VERDICT
      // r9 missing #1): fleet-wide p95 per event_type over ALL time —
      // each evaluated group holds every sample of its type (≫ K=512),
      // so the exactness gate declines by default and the ad-hoc
      // percentile pays the full raw sort. With
      // spark.graft.rollup.quantile.approx=true the rule serves the
      // O(1/√K)-rank-error estimate by merging the stored per-cell
      // bottom-k buffers instead: |series|·slots sketch rows scanned,
      // raw never touched — the production-density dashboard path. No
      // DuckDB oracle (it's an estimate); RollupSpec pins the plan
      // switch and the rank-error envelope on a dense fixture
      val store = StoreFixture.store(s, d)
      withRollupFlag(s, on = true) {
        val key = "spark.graft.rollup.quantile.approx"
        s.conf.set(key, "true")
        try {
          val df = TsdbStore.readTable(s, store, "base")
            .groupBy(col("event_type"))
            .agg(expr("percentile_disc(0.95) WITHIN GROUP (ORDER BY cents)")
              .cast("bigint").as("p95_cents"))
            .orderBy("event_type")
          df.queryExecution.optimizedPlan
          df
        } finally s.conf.unset(key)
      }
    },

    QueryDef("q_store_rollup_quantile_approx_raw",
      """WITH c AS (
        |  SELECT event_type, CAST(round(value*100) AS BIGINT) AS cents
        |  FROM events
        |), r AS (
        |  SELECT event_type, cents,
        |    row_number() OVER (PARTITION BY event_type ORDER BY cents) AS rn,
        |    count(*) OVER (PARTITION BY event_type) AS n
        |  FROM c
        |)
        |SELECT event_type, cents AS p95_cents
        |FROM r WHERE rn = greatest(1, CAST(ceil(0.95 * n) AS BIGINT))
        |ORDER BY event_type""".stripMargin) { (s, d) =>
      // A/B control for the approx pair: the IDENTICAL query text with
      // the rewrite off — the exact fleet p95 paying the raw sort,
      // oracled in DuckDB. BENCH carries estimate-vs-exact side by side
      val store = StoreFixture.store(s, d)
      withRollupFlag(s, on = false) {
        TsdbStore.readTable(s, store, "base")
          .groupBy(col("event_type"))
          .agg(expr("percentile_disc(0.95) WITHIN GROUP (ORDER BY cents)")
            .cast("bigint").as("p95_cents"))
          .orderBy("event_type")
      }
    },

    QueryDef("q_store_quantile_cont",
      s"""WITH c AS (
         |  SELECT (epoch_us(ts) // 86400000000) * 86400 AS slot_ts,
         |    CAST(round(value*100) AS BIGINT) AS cents
         |  FROM events WHERE user_id = 7 AND event_type = 'click'
         |    AND epoch_us(ts) >= ${B}000000 AND epoch_us(ts) < ${E}000000
         |)
         |SELECT slot_ts, quantile_cont(cents, 0.75) / 100.0 AS value
         |FROM c GROUP BY slot_ts
         |ORDER BY slot_ts""".stripMargin) { (s, d) =>
      // the INTERPOLATED percentile read path (round 9): same pruned
      // quant-family scan and semilattice merge as q_store_quantile,
      // but the final read is percentile_cont linear interpolation
      // over the merged sample (quantContRead mirrors PercentileBase's
      // arithmetic). Below K samples per slot the buffer holds every
      // sample, so this equals interpolating over raw — which the
      // oracle recomputes; q = 0.75 is dyadic, keeping both engines'
      // interpolation forms exact. SQL twin: the TVF's 'cont' mode
      TsdbStore.fetchQuantile(s, StoreFixture.store(s, d),
        7L, "click", B, E, 86400L, 0.75, interp = true)
    },

    QueryDef("q_sql_fetch_quantile_tvf",
      s"""WITH c AS (
         |  SELECT (epoch_us(ts) // 86400000000) * 86400 AS slot_ts,
         |    CAST(round(value*100) AS BIGINT) AS cents
         |  FROM events WHERE user_id = 3 AND event_type = 'view'
         |    AND epoch_us(ts) >= ${B}000000 AND epoch_us(ts) < ${E}000000
         |), r AS (
         |  SELECT slot_ts, cents,
         |    row_number() OVER (PARTITION BY slot_ts ORDER BY cents) AS rn,
         |    count(*) OVER (PARTITION BY slot_ts) AS n
         |  FROM c
         |)
         |SELECT slot_ts, CAST(cents AS DOUBLE)/100.0 AS value
         |FROM r WHERE rn = greatest(1, CAST(ceil(0.5 * n) AS BIGINT))
         |ORDER BY slot_ts""".stripMargin) { (s, d) =>
      // the quantile column family for SQL-only consumers: the TVF
      // resolves to fetchQuantile's merge-and-read plan (sub-K exact;
      // oracle recomputes the per-day median nearest-rank from raw)
      val store = StoreFixture.store(s, d)
      s.sql(s"SELECT * FROM graft_fetch_quantile('$store', 3, 'view', $B, $E, 86400, 0.5)")
    },

    QueryDef("q_store_bulk_quantile",
      s"""WITH c AS (
         |  SELECT user_id, event_type,
         |    (epoch_us(ts) // 86400000000) * 86400 AS slot_ts,
         |    CAST(round(value*100) AS BIGINT) AS cents
         |  FROM events
         |  WHERE ((user_id = 7 AND event_type = 'click')
         |      OR (user_id = 3 AND event_type = 'view'))
         |    AND epoch_us(ts) >= ${B}000000 AND epoch_us(ts) < ${E}000000
         |), r AS (
         |  SELECT user_id, event_type, slot_ts, cents,
         |    row_number() OVER (PARTITION BY user_id, event_type, slot_ts
         |                       ORDER BY cents) AS rn,
         |    count(*) OVER (PARTITION BY user_id, event_type, slot_ts) AS n
         |  FROM c
         |)
         |SELECT user_id, event_type, slot_ts, CAST(cents AS DOUBLE)/100.0 AS value
         |FROM r WHERE rn = greatest(1, CAST(ceil(0.95 * n) AS BIGINT))
         |ORDER BY user_id, event_type, slot_ts""".stripMargin) { (s, d) =>
      // bulk percentile: many series' p95 grids from ONE pruned
      // quant-cascade scan (struct IN-list, the fetchBulk shape) —
      // per-(series, slot) semilattice merge, sub-K exact, oracle
      // recomputing each nearest rank from raw
      TsdbStore.fetchBulkQuantile(s, StoreFixture.store(s, d),
        Seq((7L, "click"), (3L, "view")), B, E, 86400L, 0.95)
    },

    QueryDef("q_sql_fetch_bulk_quantile_tvf",
      s"""WITH c AS (
         |  SELECT user_id, event_type,
         |    (epoch_us(ts) // 86400000000) * 86400 AS slot_ts,
         |    CAST(round(value*100) AS BIGINT) AS cents
         |  FROM events
         |  WHERE ((user_id = 1 AND event_type = 'click')
         |      OR (user_id = 9 AND event_type = 'view'))
         |    AND epoch_us(ts) >= ${B}000000 AND epoch_us(ts) < ${E}000000
         |), r AS (
         |  SELECT user_id, event_type, slot_ts, cents,
         |    row_number() OVER (PARTITION BY user_id, event_type, slot_ts
         |                       ORDER BY cents) AS rn,
         |    count(*) OVER (PARTITION BY user_id, event_type, slot_ts) AS n
         |  FROM c
         |)
         |SELECT user_id, event_type, slot_ts, CAST(cents AS DOUBLE)/100.0 AS value
         |FROM r WHERE rn = greatest(1, CAST(ceil(0.5 * n) AS BIGINT))
         |ORDER BY user_id, event_type, slot_ts""".stripMargin) { (s, d) =>
      // bulk percentiles in SQL: the alternating series tail resolves
      // to fetchBulkQuantile's single pruned quant scan — every read
      // entry point, bulk forms included, now reachable from pure SQL
      val store = StoreFixture.store(s, d)
      s.sql(s"""SELECT * FROM graft_fetch_bulk_quantile('$store', $B, $E, 86400,
               |  0.5, 1, 'click', 9, 'view')""".stripMargin)
    },

    QueryDef("q_store_rollup_dau",
      s"""WITH c AS (
         |  SELECT user_id, event_type,
         |    (epoch_us(ts) // 86400000000) * 86400 AS slot_ts
         |  FROM events WHERE event_type IN ('click', 'view')
         |    AND epoch_us(ts) >= ${B}000000 AND epoch_us(ts) < ${E}000000
         |)
         |SELECT event_type, slot_ts,
         |  CAST(count(DISTINCT user_id) AS BIGINT) AS dau,
         |  CAST(count(*) AS BIGINT) AS events
         |FROM c GROUP BY 1, 2
         |ORDER BY event_type, slot_ts""".stripMargin) { (s, d) =>
      // count(DISTINCT user_id) — the DAU dashboard — through the
      // substitution: agg_86400 already holds one row per (user,
      // event_type, day), so the distinct USER SETS survive
      // materialization untouched and daily-active-users never rescans
      // raw (sets are a semilattice; coarser groups just union cells).
      // The co-requested event count re-sums n from the same scan.
      // Oracle recomputes both from raw events
      val store = StoreFixture.store(s, d)
      withRollupFlag(s, on = true) {
        TsdbStore.readTable(s, store, "base")
          .filter(col("ts_us") >= B * 1000000L && col("ts_us") < E * 1000000L)
          .filter(col("event_type").isin("click", "view"))
          .groupBy(col("event_type"),
            graft.operators.TimeSeriesOps.slotSec(86400L).as("slot_ts"))
          .agg(countDistinct("user_id").as("dau"), count(lit(1)).as("events"))
          .orderBy("event_type", "slot_ts")
      }
    },

    QueryDef("q_store_rollup_dau_raw",
      s"""WITH c AS (
         |  SELECT user_id, event_type,
         |    (epoch_us(ts) // 86400000000) * 86400 AS slot_ts
         |  FROM events WHERE event_type IN ('click', 'view')
         |    AND epoch_us(ts) >= ${B}000000 AND epoch_us(ts) < ${E}000000
         |)
         |SELECT event_type, slot_ts,
         |  CAST(count(DISTINCT user_id) AS BIGINT) AS dau,
         |  CAST(count(*) AS BIGINT) AS events
         |FROM c GROUP BY 1, 2
         |ORDER BY event_type, slot_ts""".stripMargin) { (s, d) =>
      // A/B control: identical text, flag off — the distinct count
      // shuffles every raw (user, day) pair instead of cascade rows
      val store = StoreFixture.store(s, d)
      withRollupFlag(s, on = false) {
        TsdbStore.readTable(s, store, "base")
          .filter(col("ts_us") >= B * 1000000L && col("ts_us") < E * 1000000L)
          .filter(col("event_type").isin("click", "view"))
          .groupBy(col("event_type"),
            graft.operators.TimeSeriesOps.slotSec(86400L).as("slot_ts"))
          .agg(countDistinct("user_id").as("dau"), count(lit(1)).as("events"))
          .orderBy("event_type", "slot_ts")
      }
    },

    QueryDef("q_store_series_list",
      """SELECT user_id, event_type,
        |  (min(epoch_us(ts)) // 86400000000) * 86400 AS first_slot_ts,
        |  (max(epoch_us(ts)) // 86400000000) * 86400 AS last_slot_ts,
        |  CAST(count(*) AS BIGINT) AS n_samples
        |FROM events GROUP BY 1, 2
        |ORDER BY user_id, event_type""".stripMargin) { (s, d) =>
      // the namespace listing served from the STORE: every series with
      // first/last active day + exact sample count, from the coarsest
      // cascade (|series|*active-days rows, never raw). The oracle
      // recomputes from raw events — min/max of the day floor commute
      // with the floor of min/max, and sum(n) is the monoid count
      TsdbStore.listSeries(s, StoreFixture.store(s, d))
    },

    // fleet-wide percentile from the quant family: "p95 of all clicks
    // per day" merges the stored sketches across EVERY series and up
    // to the day slot. Above K samples per cell it is an estimate
    // (O(1/sqrt K) rank error) with no cross-engine twin, so no DuckDB
    // oracle — QuantCascadeSpec pins the scale-free property instead:
    // stored-merge == one-pass sketch over raw, BIT-identical, at the
    // fleet grain too
    QueryDef.noOracle("q_store_fleet_quantile") { (s, d) =>
      TsdbStore.fetchFleetQuantile(s, StoreFixture.store(s, d),
        "click", B, E, 86400L, 0.95)
    },

    QueryDef("q_store_rollup_rate_total",
      s"""WITH s AS (
         |  SELECT user_id, event_type, epoch_us(ts) AS ts_us, event_id,
         |         CAST(round(value*100) AS BIGINT) AS cents
         |  FROM events WHERE event_type IN ('click', 'view')
         |), r AS (
         |  SELECT user_id, event_type, ts_us, cents,
         |         lag(cents) OVER w AS prev_cents,
         |         lag(ts_us) OVER w AS prev_ts_us
         |  FROM s WINDOW w AS (PARTITION BY user_id, event_type
         |                      ORDER BY ts_us, event_id)
         |)
         |SELECT user_id, event_type,
         |  CAST(count(*) AS BIGINT) AS n_valid,
         |  CAST(sum(((cents - prev_cents) % 1000000 + 1000000) % 1000000) AS BIGINT) AS delta_cents,
         |  CAST(sum(ts_us - prev_ts_us) AS BIGINT) AS dt_us
         |FROM r
         |WHERE prev_ts_us IS NOT NULL AND ts_us - prev_ts_us <= 21600000000
         |  AND ts_us >= ${B}000000 AND ts_us < ${E}000000
         |GROUP BY 1, 2
         |ORDER BY user_id, event_type""".stripMargin) { (s, d) =>
      // the SLOTLESS counter range total — "bytes moved per series in
      // the last N days": the full wrap-corrected delta pipeline with
      // NO slot in the grouping re-sums the COARSEST rate level over
      // the transferred range; the window sort and the raw scan both
      // vanish. Oracle recomputes from raw
      val cap = graft.Tables.WrapCap
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id", "event_type").orderBy("ts_us", "event_id")
      val store = StoreFixture.store(s, d)
      withRollupFlag(s, on = true) {
        TsdbStore.readTable(s, store, "base")
          .filter(col("event_type").isin("click", "view"))
          .withColumn("prev_cents", lag("cents", 1).over(w))
          .withColumn("prev_ts_us", lag("ts_us", 1).over(w))
          .withColumn("dt_us", col("ts_us") - col("prev_ts_us"))
          .withColumn("delta_cents",
            ((col("cents") - col("prev_cents")) % cap + cap) % cap)
          .filter(col("prev_ts_us").isNotNull && col("dt_us") <= 21600L * 1000000L)
          .filter(col("ts_us") >= B * 1000000L && col("ts_us") < E * 1000000L)
          .groupBy(col("user_id"), col("event_type"))
          .agg(count(lit(1)).as("n_valid"), sum("delta_cents").as("delta_cents"),
            sum("dt_us").as("dt_us"))
          .orderBy("user_id", "event_type")
      }
    },

    QueryDef("q_store_rollup_rate_total_raw",
      s"""WITH s AS (
         |  SELECT user_id, event_type, epoch_us(ts) AS ts_us, event_id,
         |         CAST(round(value*100) AS BIGINT) AS cents
         |  FROM events WHERE event_type IN ('click', 'view')
         |), r AS (
         |  SELECT user_id, event_type, ts_us, cents,
         |         lag(cents) OVER w AS prev_cents,
         |         lag(ts_us) OVER w AS prev_ts_us
         |  FROM s WINDOW w AS (PARTITION BY user_id, event_type
         |                      ORDER BY ts_us, event_id)
         |)
         |SELECT user_id, event_type,
         |  CAST(count(*) AS BIGINT) AS n_valid,
         |  CAST(sum(((cents - prev_cents) % 1000000 + 1000000) % 1000000) AS BIGINT) AS delta_cents,
         |  CAST(sum(ts_us - prev_ts_us) AS BIGINT) AS dt_us
         |FROM r
         |WHERE prev_ts_us IS NOT NULL AND ts_us - prev_ts_us <= 21600000000
         |  AND ts_us >= ${B}000000 AND ts_us < ${E}000000
         |GROUP BY 1, 2
         |ORDER BY user_id, event_type""".stripMargin) { (s, d) =>
      // A/B control: identical text, flag off — the window pipeline
      // over raw samples
      val cap = graft.Tables.WrapCap
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id", "event_type").orderBy("ts_us", "event_id")
      val store = StoreFixture.store(s, d)
      withRollupFlag(s, on = false) {
        TsdbStore.readTable(s, store, "base")
          .filter(col("event_type").isin("click", "view"))
          .withColumn("prev_cents", lag("cents", 1).over(w))
          .withColumn("prev_ts_us", lag("ts_us", 1).over(w))
          .withColumn("dt_us", col("ts_us") - col("prev_ts_us"))
          .withColumn("delta_cents",
            ((col("cents") - col("prev_cents")) % cap + cap) % cap)
          .filter(col("prev_ts_us").isNotNull && col("dt_us") <= 21600L * 1000000L)
          .filter(col("ts_us") >= B * 1000000L && col("ts_us") < E * 1000000L)
          .groupBy(col("user_id"), col("event_type"))
          .agg(count(lit(1)).as("n_valid"), sum("delta_cents").as("delta_cents"),
            sum("dt_us").as("dt_us"))
          .orderBy("user_id", "event_type")
      }
    },

    QueryDef("q_store_rollup_topk",
      s"""WITH c AS (
         |  SELECT user_id, event_type,
         |    CAST(round(value*100) AS BIGINT) AS cents
         |  FROM events WHERE event_type IN ('click', 'view')
         |    AND epoch_us(ts) >= ${B}000000 AND epoch_us(ts) < ${E}000000
         |)
         |SELECT user_id, event_type,
         |  CAST(sum(cents) AS BIGINT) AS sum_cents,
         |  CAST(count(*) AS BIGINT) AS n
         |FROM c GROUP BY 1, 2
         |ORDER BY sum_cents DESC, user_id, event_type
         |LIMIT 10""".stripMargin) { (s, d) =>
      // "top 10 series by range total" — the substitution COMPOSES:
      // the rule rewrites only the Aggregate (outputs keep their
      // exprIds), so the Sort+Limit above plan as TakeOrderedAndProject
      // over the re-aggregated COARSEST cascade level; the leaderboard
      // never touches raw. Unique (user, type) tiebreak keeps the
      // boundary deterministic for the oracle
      val store = StoreFixture.store(s, d)
      withRollupFlag(s, on = true) {
        TsdbStore.readTable(s, store, "base")
          .filter(col("ts_us") >= B * 1000000L && col("ts_us") < E * 1000000L)
          .filter(col("event_type").isin("click", "view"))
          .groupBy(col("user_id"), col("event_type"))
          .agg(sum("cents").as("sum_cents"), count(lit(1)).as("n"))
          .orderBy(col("sum_cents").desc, col("user_id"), col("event_type"))
          .limit(10)
      }
    },

    QueryDef("q_store_rollup_rate",
      RateRollupOracle) { (s, d) =>
      // rate-cascade substitution (VERDICT r6 next #6): the query TEXT
      // is the full wrap-corrected, heartbeat-validated delta pipeline
      // (window + filter + groupBy over raw samples), but the optimizer
      // recognizes it as EXACTLY the computation the store materializes
      // as rate_21600 and substitutes the cascade — the window sort,
      // the lag exchange, and the raw scan all disappear (a pure
      // Project at the exact step). The heartbeat literal must equal
      // the store's stamped heartbeat or the rewrite declines. Oracle
      // recomputes the deltas from raw events in DuckDB
      val store = StoreFixture.store(s, d)
      withRollupFlag(s, on = true)(rateRollupShape(s, store))
    },

    QueryDef("q_store_rollup_rate_raw",
      RateRollupOracle) { (s, d) =>
      // A/B control: identical text, flag off — the full window
      // pipeline over raw samples, side by side in BENCH
      val store = StoreFixture.store(s, d)
      withRollupFlag(s, on = false)(rateRollupShape(s, store))
    },

    QueryDef("q_source_jsonl",
      """SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
        |  CAST(min(doc_id) AS BIGINT) AS first_doc
        |FROM read_json('/tmp/graft_jsonl/__SF__/docs/*.json',
        |  format='newline_delimited',
        |  columns={'doc_id':'BIGINT','text':'VARCHAR','lang':'VARCHAR',
        |           'source':'VARCHAR','n_chars':'BIGINT'})
        |GROUP BY lang ORDER BY lang""".stripMargin) { (s, d) =>
      // JSONL corpus source with an explicit schema (no inference): the
      // commonest LLM-pipeline input format, fed into per-language
      // corpus stats. Both engines read the same exported JSONL files:
      // the oracle's __SF__ placeholder is resolved to the data-dir
      // basename by Verify at dump time, so the fixture path tracks
      // whatever sf the sweep runs at (no pinned scale).
      val schema = StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType),
        StructField("lang", StringType), StructField("source", StringType),
        StructField("n_chars", LongType)))
      s.read.schema(schema).json(StoreFixture.docsJsonl(s, d))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_chars").as("total_chars"),
          min("doc_id").as("first_doc"))
        .orderBy("lang")
    },

    QueryDef("q_store_trend",
      s"""WITH c AS (
        |  SELECT user_id, event_type,
        |    (epoch_us(ts) // 86400000000) - 19723 AS t,
        |    CAST(round(value*100) AS BIGINT) AS cents
        |  FROM events
        |), day AS (
        |  SELECT user_id, event_type, t, CAST(sum(cents) AS BIGINT) AS vol
        |  FROM c GROUP BY 1, 2, 3
        |), f AS (
        |  SELECT user_id, event_type,
        |    CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(t) AS HUGEINT) AS st, CAST(sum(vol) AS HUGEINT) AS sx,
        |    CAST(sum(t * vol) AS HUGEINT) AS stx, CAST(sum(t * t) AS HUGEINT) AS stt
        |  FROM day GROUP BY 1, 2
        |)
        |SELECT user_id, event_type, n,
        |  ${WindowQueries.slopeSql(forOracle = true)} AS trend_cents_per_day
        |FROM f ORDER BY user_id, event_type""".stripMargin) { (s, d) =>
      // per-series daily-volume TREND served from the CASCADE — OLS of
      // each day's total cents against the day index, computed over
      // `agg_86400` rows (|series|·days of them) with raw NEVER
      // scanned; the oracle recomputes the same daily sums from raw,
      // so the hash match certifies cascade == raw at the analytics
      // level, not just the rollup level. Day indices are
      // epoch-RELATIVE (slot 19723 = 2024-01-01) keeping every
      // sufficient statistic tiny exact BIGINT; the slope projection
      // is the SAME generated text as q_window_slope (slopeSql) —
      // write the OLS arithmetic once, evaluate it verbatim
      // everywhere. Scan cost at 100 TB: the coarsest cascade is
      // ~86400× smaller than raw; the agg is map-side combined on
      // the series key.
      val store = StoreFixture.store(s, d)
      val t = expr("slot_ts div 86400 - 19723")
      TsdbStore.readTable(s, store, "agg_86400")
        .select(col("user_id"), col("event_type"), t.as("t"),
          col("sum_cents").as("vol"))
        .groupBy("user_id", "event_type")
        // DECIMAL(38,0)/HUGEINT sums per the §7.4 group-size rule
        // (round-12 review find): sx is the series' TOTAL cents and
        // stx its day-weighted total — both grow with history length
        // AND density, so int64 accumulation carried the q_agg_stats
        // overflow class. Per-term t·vol stays int64-bounded by the
        // cascade's own int64 sum_cents storage.
        .agg(count(lit(1)).as("n"),
          sum(col("t").cast("decimal(38,0)")).as("st"),
          sum(col("vol").cast("decimal(38,0)")).as("sx"),
          sum((col("t") * col("vol")).cast("decimal(38,0)")).as("stx"),
          sum((col("t") * col("t")).cast("decimal(38,0)")).as("stt"))
        .select(col("user_id"), col("event_type"), col("n"),
          expr(WindowQueries.slopeSql(forOracle = false)).as("trend_cents_per_day"))
        .orderBy("user_id", "event_type")
    },

    QueryDef("q_source_csv",
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(cents) AS BIGINT) AS sum_cents,
        |  CAST(min(event_id) AS BIGINT) AS first_id,
        |  CAST(max(event_id) AS BIGINT) AS last_id
        |FROM read_csv('/tmp/graft_csv/__SF__/events/*.csv.gz',
        |  header=true,
        |  columns={'user_id':'BIGINT','event_type':'VARCHAR','event_id':'BIGINT',
        |           'ts_us':'BIGINT','cents':'BIGINT'})
        |GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, d) =>
      // gzip CSV source through the store's OWN interchange pair
      // (TsdbStore.exportCsv/readCsv — header + explicit schema, no
      // inference): the flat-file format every ops pipeline eventually
      // meets, now a declared oracled row instead of component-only
      // coverage. Both engines read the SAME exported .csv.gz files;
      // like q_source_jsonl, the oracle path's __SF__ placeholder is
      // resolved to the data-dir basename by Verify at dump time.
      val schema = StructType(Seq(
        StructField("user_id", LongType), StructField("event_type", StringType),
        StructField("event_id", LongType), StructField("ts_us", LongType),
        StructField("cents", LongType)))
      TsdbStore.readCsv(s, StoreFixture.eventsCsv(s, d), schema)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("cents").as("sum_cents"),
          min("event_id").as("first_id"), max("event_id").as("last_id"))
        .orderBy("event_type")
    },

    QueryDef("q_source_orc",
      """SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
        |  CAST(min(doc_id) AS BIGINT) AS first_doc,
        |  CAST(max(doc_id) AS BIGINT) AS last_doc
        |FROM documents GROUP BY source ORDER BY source""".stripMargin) { (s, d) =>
      // ORC source (the Hive-lineage columnar interchange next to the
      // JSONL row): the corpus round-trips through zlib ORC and is read
      // back with predicate/column pushdown like any warehouse scan.
      // DuckDB has no ORC reader, so the oracle aggregates the SOURCE
      // parquet instead — the hash compare therefore certifies the
      // Spark ORC write+read is CONTENT-EXACT against the original
      // table, which is precisely the property an interchange format
      // must have. Filter/column pushdown into the ORC scan follows
      // the same DataSource V1 path the parquet scans use.
      s.read.orc(StoreFixture.docsOrc(s, d))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_chars").as("total_chars"),
          min("doc_id").as("first_doc"),
          max("doc_id").as("last_doc"))
        .orderBy("source")
    },

    QueryDef("q_join_bucketed",
      """WITH m AS (
        |  SELECT user_id, event_type, epoch_us(ts) AS ts_us,
        |         CAST(round(value*100) AS BIGINT) AS cents
        |  FROM events
        |), a AS (
        |  SELECT user_id, event_type,
        |         CAST(sum(cents) AS BIGINT) AS sum_cents, count(*) AS n
        |  FROM m GROUP BY 1, 2
        |)
        |SELECT m.user_id, m.event_type, m.ts_us, m.cents,
        |  CAST(m.cents AS DOUBLE)
        |    - CAST(a.sum_cents AS DOUBLE) / a.n AS dev
        |FROM m JOIN a ON a.user_id = m.user_id
        |               AND a.event_type = m.event_type
        |ORDER BY m.user_id, m.event_type, m.ts_us""".stripMargin) { (s, d) =>
      // CO-LOCATED aggregate + join over the series-bucketed catalog
      // table: the per-series totals aggregate AND the samples⋈totals
      // equi-join both key on the bucket columns (user_id, event_type),
      // so neither plans an Exchange — the bucketed scan satisfies
      // every clustering requirement (PlanAuditSpec counts zero hash
      // exchanges before the final sort). This is the 100 TB shape:
      // per-series enrichment with NO shuffle of the sample stream.
      // The merge hint keeps it a sort-merge join so the demo doesn't
      // silently degrade to a broadcast at fixture scale — at
      // production |series| the dim side is far beyond broadcast
      // range and SMJ-over-buckets is the only shuffle-free plan.
      // dev is emitted UNROUNDED (exact-integer inputs, one IEEE
      // division + subtraction — bit-identical cross-engine; §7.4)
      val store = StoreFixture.bucketedStore(s, d)
      val t = s.table(graft.sources.TsdbStore.bucketedBaseTable(s, store))
      val a = t.groupBy("user_id", "event_type")
        .agg(sum("cents").as("sum_cents"), count(lit(1)).as("n"))
      t.join(a.hint("merge"), Seq("user_id", "event_type"))
        .select(col("user_id"), col("event_type"), col("ts_us"), col("cents"),
          (col("cents").cast("double")
            - col("sum_cents").cast("double") / col("n")).as("dev"))
        .orderBy("user_id", "event_type", "ts_us")
    },

    QueryDef("q_join_bucketed_manifest",
      """WITH m AS (
        |  SELECT user_id, event_type, epoch_us(ts) AS ts_us,
        |         CAST(round(value*100) AS BIGINT) AS cents
        |  FROM events
        |), a AS (
        |  SELECT user_id, event_type,
        |         CAST(sum(cents) AS BIGINT) AS sum_cents, count(*) AS n
        |  FROM m GROUP BY 1, 2
        |)
        |SELECT m.user_id, m.event_type, m.ts_us, m.cents,
        |  CAST(m.cents AS DOUBLE)
        |    - CAST(a.sum_cents AS DOUBLE) / a.n AS dev
        |FROM m JOIN a ON a.user_id = m.user_id
        |               AND a.event_type = m.event_type
        |ORDER BY m.user_id, m.event_type, m.ts_us""".stripMargin) { (s, d) =>
      // q_join_bucketed's MANIFEST twin (round 15, VERDICT r14 next
      // #4): the bucketed base lives inside a write-once segment and
      // the catalog table is registered PER SNAPSHOT from the live
      // manifest's partition locations — same zero-exchange co-located
      // agg+join plan (PlanAuditSpec pins it), now on the layout an
      // object-store deployment would actually run
      val store = StoreFixture.bucketedManifestStore(s, d)
      val t = s.table(graft.sources.TsdbStore.bucketedBaseTable(s, store))
      val a = t.groupBy("user_id", "event_type")
        .agg(sum("cents").as("sum_cents"), count(lit(1)).as("n"))
      t.join(a.hint("merge"), Seq("user_id", "event_type"))
        .select(col("user_id"), col("event_type"), col("ts_us"), col("cents"),
          (col("cents").cast("double")
            - col("sum_cents").cast("double") / col("n")).as("dev"))
        .orderBy("user_id", "event_type", "ts_us")
    }
  )
}
