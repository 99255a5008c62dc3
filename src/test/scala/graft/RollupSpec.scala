package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.TimeSeriesOps
import graft.sources.TsdbStore

/** RollupSubstitution: ad-hoc slot aggregates over the store's base
  * table are rewritten onto the materialized cascade — plan-audited
  * (agg table in, base gone) and result-audited (bit-identical to the
  * raw-scan plan) for the exact-step, coarser-step, and filtered
  * forms; maintenance entry points and non-transferable filters are
  * never rewritten. */
class RollupSpec extends SparkSpec {

  private val Flag = "spark.graft.rollup.rewrite"

  private lazy val store: String = {
    val dir = tempDir("graft_rollup")
    TsdbStore.ingest(spark, Tables.events(spark, Sf), dir)
    dir
  }

  private def slotAgg(stepSec: Long, filtered: Boolean = false): DataFrame = {
    val base = spark.read.parquet(s"$store/base")
    val src = if (filtered) base.filter(col("event_type") === "click") else base
    src.groupBy(col("user_id"), col("event_type"),
        TimeSeriesOps.slotSec(stepSec).as("slot_ts"))
      .agg(count(lit(1)).as("n"), sum("cents").as("sum_cents"),
        min("cents").as("min_cents"), max("cents").as("max_cents"))
  }

  private def withFlag[A](on: Boolean)(body: => A): A = {
    spark.conf.set(Flag, on.toString)
    try body finally spark.conf.unset(Flag)
  }

  /** Root paths of every file scan in the optimized plan. */
  private def scanPaths(df: DataFrame): Seq[String] =
    df.queryExecution.optimizedPlan.collect {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        l.relation match {
          case f: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            f.location.rootPaths.map(_.toString)
          case _ => Seq.empty[String]
        }
    }.flatten

  private def hasAggregate(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.collectFirst {
      case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
    }.nonEmpty

  private def rows(df: DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq).toSet

  test("exact-step hit becomes a pure Project over the cascade (no aggregate, no base scan)") {
    val (paths, reagg, got) = withFlag(on = true) {
      val df = slotAgg(21600L)
      (scanPaths(df), hasAggregate(df), rows(df))
    }
    assert(paths.exists(_.endsWith("agg_21600")), s"cascade not substituted: $paths")
    assert(!paths.exists(_.endsWith("/base")), s"base scan survived: $paths")
    assert(!reagg, "exact-step hit should not re-aggregate")
    val expect = withFlag(on = false)(rows(slotAgg(21600L)))
    assert(got == expect, "rewritten result differs from the raw-scan result")
    assert(got.nonEmpty)
  }

  test("coarser request re-aggregates the finer cascade level") {
    // 43200 s is not materialized; 21600 divides it
    val (paths, got) = withFlag(on = true) {
      val df = slotAgg(43200L)
      (scanPaths(df), rows(df))
    }
    assert(paths.exists(_.endsWith("agg_21600")), s"finer cascade not substituted: $paths")
    assert(!paths.exists(_.endsWith("/base")), s"base scan survived: $paths")
    val expect = withFlag(on = false)(rows(slotAgg(43200L)))
    assert(got == expect, "rewritten rollup differs from the raw-scan result")
  }

  test("series-identity filters transfer onto the cascade; the day level wins for day slots") {
    val (paths, plan, got) = withFlag(on = true) {
      val df = slotAgg(86400L, filtered = true)
      (scanPaths(df), df.queryExecution.optimizedPlan.toString, rows(df))
    }
    // coarsest dividing step: the materialized day level itself
    assert(paths.exists(_.endsWith("agg_86400")), s"day cascade not substituted: $paths")
    assert(plan.contains("click"), s"filter lost in the rewrite:\n$plan")
    assert(!paths.exists(_.endsWith("/base")), s"base scan survived: $paths")
    val expect = withFlag(on = false)(rows(slotAgg(86400L, filtered = true)))
    assert(got == expect)
    assert(got.nonEmpty && got.forall(_(1) == "click"))
  }

  test("fleet-wide rollup (series key dropped from grouping) re-aggregates the cascade") {
    def q: DataFrame = spark.read.parquet(s"$store/base")
      .groupBy(col("event_type"), TimeSeriesOps.slotSec(86400L).as("slot_ts"))
      .agg(count(lit(1)).as("n"), sum("cents").as("sum_cents"),
        min("cents").as("min_cents"), max("cents").as("max_cents"))
    val (paths, got) = withFlag(on = true)((scanPaths(q), rows(q)))
    assert(paths.exists(_.endsWith("agg_86400")), s"not substituted: $paths")
    assert(!paths.exists(_.endsWith("/base")), s"base scan survived: $paths")
    val expect = withFlag(on = false)(rows(q))
    assert(got == expect && got.nonEmpty,
      "fleet rollup differs from the raw-scan result")
  }

  test("the bucketed catalog table's base scan substitutes too") {
    import graft.sources.StoreLayout
    val dir = tempDir("graft_rollup_bkt")
    TsdbStore.ingest(spark, Tables.events(spark, Sf), dir,
      StoreLayout(buckets = 4))
    val name = TsdbStore.bucketedBaseTable(spark, dir)
    def q: DataFrame = spark.table(name)
      .groupBy(col("user_id"), col("event_type"),
        TimeSeriesOps.slotSec(21600L).as("slot_ts"))
      .agg(count(lit(1)).as("n"), sum("cents").as("sum_cents"),
        min("cents").as("min_cents"), max("cents").as("max_cents"))
    val (paths, got) = withFlag(on = true)((scanPaths(q), rows(q)))
    assert(paths.exists(_.endsWith("agg_21600")),
      s"catalog-table base scan not substituted: $paths")
    assert(!paths.exists(_.endsWith("/base")), s"base scan survived: $paths")
    val expect = withFlag(on = false)(rows(q))
    assert(got == expect && got.nonEmpty)
    // the round-7 shapes compose with the catalog table too: an
    // aligned range + distinct count over the bucketed base
    def qr: DataFrame = spark.table(name)
      .filter(col("ts_us") >= RB * 1000000L && col("ts_us") < RE * 1000000L)
      .groupBy(col("event_type"), TimeSeriesOps.slotSec(86400L).as("slot_ts"))
      .agg(countDistinct("user_id").as("dau"), sum("cents").as("sum_cents"))
    val (pathsR, gotR) = withFlag(on = true)((scanPaths(qr), rows(qr)))
    assert(pathsR.exists(_.endsWith("agg_86400")) &&
      !pathsR.exists(_.endsWith("/base")),
      s"bucketed range+distinct not substituted: $pathsR")
    assert(gotR == withFlag(on = false)(rows(qr)) && gotR.nonEmpty)
  }

  test("derived outputs (CollapseProject-merged avg) convert leaf-by-leaf") {
    def q: DataFrame = slotAgg(43200L)
      .withColumn("avg_value",
        col("sum_cents").cast("double") / 100.0 / col("n").cast("double"))
    val (paths, got) = withFlag(on = true)((scanPaths(q), rows(q)))
    assert(paths.exists(_.endsWith("agg_21600")), s"not substituted: $paths")
    assert(!paths.exists(_.endsWith("/base")), s"base scan survived: $paths")
    val expect = withFlag(on = false)(rows(q))
    assert(got == expect, "derived-output rewrite changed the result")
  }

  test("two slot expressions at different steps block the rewrite (ADVICE r6 #1)") {
    def q: DataFrame = spark.read.parquet(s"$store/base")
      .groupBy(col("user_id"),
        TimeSeriesOps.slotSec(21600L).as("slot6h"),
        TimeSeriesOps.slotSec(86400L).as("slot_day"))
      .agg(count(lit(1)).as("n"), sum("cents").as("sum_cents"),
        min("cents").as("min_cents"), max("cents").as("max_cents"))
    val (paths, got) = withFlag(on = true)((scanPaths(q), rows(q)))
    assert(paths.exists(_.endsWith("/base")) &&
      !paths.exists(_.contains("agg_")),
      s"mixed-step slot grouping must not be substituted: $paths")
    val expect = withFlag(on = false)(rows(q))
    assert(got == expect && got.nonEmpty)
  }

  test("an alias masquerading as user_id blocks the filter transfer (ADVICE r6 #2)") {
    // "user_id" here is really cents — a name-based rebase would filter
    // the cascade's series ids by a cents threshold
    def q: DataFrame = spark.read.parquet(s"$store/base")
      .select(col("ts_us"), col("cents"), col("event_type"),
        col("cents").as("user_id"))
      .filter(col("user_id") > 100L)
      .groupBy(col("event_type"), TimeSeriesOps.slotSec(21600L).as("slot_ts"))
      .agg(count(lit(1)).as("n"), sum("cents").as("sum_cents"),
        min("cents").as("min_cents"), max("cents").as("max_cents"))
    val (paths, got) = withFlag(on = true)((scanPaths(q), rows(q)))
    assert(paths.exists(_.endsWith("/base")) &&
      !paths.exists(_.contains("agg_")),
      s"masqueraded identity filter must not be substituted: $paths")
    val expect = withFlag(on = false)(rows(q))
    assert(got == expect && got.nonEmpty)
  }

  test("a REAL identity column under a different output name still transfers") {
    // the inverse of the masquerade: the filter references the
    // relation's actual user_id attribute, merely renamed — exprId
    // validation accepts it and the rebase maps it by its true name
    def q: DataFrame = spark.read.parquet(s"$store/base")
      .select(col("ts_us"), col("cents"), col("event_type"),
        col("user_id").as("series"))
      .filter(col("series") === 7L)
      .groupBy(col("event_type"), TimeSeriesOps.slotSec(21600L).as("slot_ts"))
      .agg(count(lit(1)).as("n"), sum("cents").as("sum_cents"),
        min("cents").as("min_cents"), max("cents").as("max_cents"))
    val (paths, got) = withFlag(on = true)((scanPaths(q), rows(q)))
    assert(paths.exists(_.endsWith("agg_21600")) &&
      !paths.exists(_.endsWith("/base")),
      s"renamed real identity filter should transfer: $paths")
    val expect = withFlag(on = false)(rows(q))
    assert(got == expect && got.nonEmpty)
  }

  test("count(NULL) never rewrites to sum(n) (ADVICE r6 #3)") {
    def q: DataFrame = spark.read.parquet(s"$store/base")
      .groupBy(col("user_id"), col("event_type"),
        TimeSeriesOps.slotSec(21600L).as("slot_ts"))
      .agg(count(lit(null)).as("n_null"), sum("cents").as("sum_cents"))
    val got = withFlag(on = true)(rows(q))
    val expect = withFlag(on = false)(rows(q))
    assert(got == expect && got.nonEmpty,
      "count(NULL) result changed under the rewrite flag")
    assert(got.forall(_(3) == 0L), "count(NULL) must be zero")
  }

  // 2024-01-12T00Z / 2024-01-18T00Z — midnight-UTC epochs, multiples of
  // both cascade steps
  private val RB = 1705017600L
  private val RE = 1705536000L

  private def rangeAgg(stepSec: Long, bUs: Long, eUs: Long): DataFrame =
    spark.read.parquet(s"$store/base")
      .filter(col("ts_us") >= bUs && col("ts_us") < eUs)
      .groupBy(col("user_id"), col("event_type"),
        TimeSeriesOps.slotSec(stepSec).as("slot_ts"))
      .agg(count(lit(1)).as("n"), sum("cents").as("sum_cents"),
        min("cents").as("min_cents"), max("cents").as("max_cents"))

  test("a T-aligned ts_us range transfers as slot bounds + dt pruning (VERDICT r6 #1)") {
    val (paths, plan, got) = withFlag(on = true) {
      val df = rangeAgg(86400L, RB * 1000000L, RE * 1000000L)
      (scanPaths(df), df.queryExecution.optimizedPlan.toString, rows(df))
    }
    assert(paths.exists(_.endsWith("agg_86400")), s"cascade not substituted: $paths")
    assert(!paths.exists(_.endsWith("/base")), s"base scan survived: $paths")
    assert(plan.contains(RB.toString) && plan.contains(RE.toString),
      s"slot bounds missing from the transferred filter:\n$plan")
    assert(plan.contains("dt#") || plan.contains("dt "),
      s"dt partition-prune twin missing:\n$plan")
    val expect = withFlag(on = false)(rows(rangeAgg(86400L, RB * 1000000L, RE * 1000000L)))
    assert(got == expect && got.nonEmpty,
      "range-transferred rewrite differs from the raw-scan result")
  }

  test("a T-aligned range on a COARSER-slot request transfers and re-aggregates") {
    // grouping at 43200 chooses the 21600 cascade; bounds are
    // multiples of 21600 (and of 43200 — midnights)
    val (paths, got) = withFlag(on = true) {
      val df = rangeAgg(43200L, RB * 1000000L, RE * 1000000L)
      (scanPaths(df), rows(df))
    }
    assert(paths.exists(_.endsWith("agg_21600")), s"not substituted: $paths")
    assert(!paths.exists(_.endsWith("/base")), s"base scan survived: $paths")
    val expect = withFlag(on = false)(rows(rangeAgg(43200L, RB * 1000000L, RE * 1000000L)))
    assert(got == expect && got.nonEmpty)
  }

  test("a range aligned to T but not to the requested slot step still transfers exactly") {
    // bounds at a 6h boundary that is NOT a 12h boundary: the edge
    // 12h groups legitimately cover half their span — both plans
    // compute the same partial groups
    val b = (RB + 21600L) * 1000000L
    val (paths, got) = withFlag(on = true) {
      val df = rangeAgg(43200L, b, RE * 1000000L)
      (scanPaths(df), rows(df))
    }
    assert(paths.exists(_.endsWith("agg_21600")), s"not substituted: $paths")
    val expect = withFlag(on = false)(rows(rangeAgg(43200L, b, RE * 1000000L)))
    assert(got == expect && got.nonEmpty)
  }

  test("an unaligned ts_us bound SPLITS: cascade interior + raw boundary union") {
    val b = (RB + 3600L) * 1000000L // 1h offset: not a 21600 multiple
    val (paths, got) = withFlag(on = true) {
      val df = rangeAgg(21600L, b, RE * 1000000L)
      (scanPaths(df), rows(df))
    }
    assert(paths.exists(_.endsWith("agg_21600")),
      s"interior must serve from the cascade: $paths")
    assert(paths.exists(_.endsWith("/base")),
      s"the sub-cell boundary must serve from raw rows: $paths")
    val expect = withFlag(on = false)(rows(rangeAgg(21600L, b, RE * 1000000L)))
    assert(got == expect && got.nonEmpty,
      "split rewrite differs from the raw-scan result")
  }

  test("both bounds unaligned: two boundary pieces, still answer-identical") {
    val b = (RB + 3600L) * 1000000L
    val e = (RE - 7200L) * 1000000L
    def q: DataFrame = spark.read.parquet(s"$store/base")
      .filter(col("ts_us") >= b && col("ts_us") < e)
      .filter(col("event_type") === "click")
      .groupBy(col("user_id"), col("event_type"),
        TimeSeriesOps.slotSec(86400L).as("slot_ts"))
      .agg(count(lit(1)).as("n"), sum("cents").as("sum_cents"),
        min("cents").as("min_cents"), max("cents").as("max_cents"))
    val (paths, plan, got) = withFlag(on = true) {
      val df = q
      (scanPaths(df), df.queryExecution.optimizedPlan.toString, rows(df))
    }
    assert(paths.exists(_.endsWith("agg_86400")), s"interior not substituted: $paths")
    assert(paths.count(_.endsWith("/base")) == 2,
      s"expected two boundary branches: $paths")
    assert(plan.contains("Union"), s"no union in the split plan:\n$plan")
    val expect = withFlag(on = false)(rows(q))
    assert(got == expect && got.nonEmpty)
    // the series filter reached all three branches
    assert(got.forall(_(1) == "click"))
  }

  test("a range inside one cell has no interior: stays on the raw scan") {
    val b = (RB + 3600L) * 1000000L
    val e = (RB + 7200L) * 1000000L // [1h, 2h) inside the first 6h cell
    val (paths, got) = withFlag(on = true) {
      val df = rangeAgg(21600L, b, e)
      (scanPaths(df), rows(df))
    }
    assert(paths.exists(_.endsWith("/base")) &&
      !paths.exists(_.contains("agg_")),
      s"sub-cell range must not be substituted: $paths")
    val expect = withFlag(on = false)(rows(rangeAgg(21600L, b, e)))
    assert(got == expect && got.nonEmpty)
  }

  test("slotless per-series range totals re-aggregate the coarsest cascade") {
    def q: DataFrame = spark.read.parquet(s"$store/base")
      .filter(col("ts_us") >= RB * 1000000L && col("ts_us") < RE * 1000000L)
      .groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum("cents").as("sum_cents"),
        min("cents").as("min_cents"), max("cents").as("max_cents"))
    val (paths, got) = withFlag(on = true)((scanPaths(q), rows(q)))
    assert(paths.exists(_.endsWith("agg_86400")),
      s"range total should re-aggregate the COARSEST level: $paths")
    assert(!paths.exists(_.endsWith("/base")), s"base scan survived: $paths")
    val expect = withFlag(on = false)(rows(q))
    assert(got == expect && got.nonEmpty)
  }

  test("slotless UNALIGNED range totals split like slotted ones") {
    val b = (RB + 3600L) * 1000000L
    def q: DataFrame = spark.read.parquet(s"$store/base")
      .filter(col("ts_us") >= b && col("ts_us") < RE * 1000000L)
      .groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum("cents").as("sum_cents"),
        min("cents").as("min_cents"), max("cents").as("max_cents"))
    val (paths, got) = withFlag(on = true)((scanPaths(q), rows(q)))
    assert(paths.exists(_.endsWith("agg_86400")) &&
      paths.exists(_.endsWith("/base")),
      s"expected cascade interior + raw boundary: $paths")
    val expect = withFlag(on = false)(rows(q))
    assert(got == expect && got.nonEmpty)
  }

  test("the global (empty-grouping) total substitutes, incl. the empty-store count") {
    def q: DataFrame = spark.read.parquet(s"$store/base")
      .agg(count(lit(1)).as("n"), sum("cents").as("sum_cents"))
    val (paths, got) = withFlag(on = true)((scanPaths(q), rows(q)))
    assert(paths.exists(_.endsWith("agg_86400")) &&
      !paths.exists(_.endsWith("/base")),
      s"global total should read the cascade: $paths")
    val expect = withFlag(on = false)(rows(q))
    assert(got == expect && got.nonEmpty)
    // empty INPUT (a filter matching no series): the global count must
    // be 0, not NULL — sum(n) over zero cascade rows is NULL, which the
    // coalesced global form papers back to count(1)'s zero
    def qe: DataFrame = spark.read.parquet(s"$store/base")
      .filter(col("user_id") === 99999999L)
      .agg(count(lit(1)).as("n"), sum("cents").as("sum_cents"))
    val (pathsE, gotE) = withFlag(on = true)((scanPaths(qe), rows(qe)))
    assert(pathsE.exists(_.endsWith("agg_86400")),
      s"filtered global total should still substitute: $pathsE")
    val expectE = withFlag(on = false)(rows(qe))
    assert(gotE == expectE, s"empty-input global total diverged: $gotE vs $expectE")
    assert(gotE.head.head == 0L, "count over an empty input must be 0")
  }

  test("native avg() substitutes: exact step is a Project, no aggregate") {
    def q: DataFrame = spark.read.parquet(s"$store/base")
      .groupBy(col("user_id"), col("event_type"),
        TimeSeriesOps.slotSec(21600L).as("slot_ts"))
      .agg(avg("cents").as("avg_cents"), count(lit(1)).as("n"))
    val (paths, reagg, got) = withFlag(on = true)((scanPaths(q), hasAggregate(q), rows(q)))
    assert(paths.exists(_.endsWith("agg_21600")) &&
      !paths.exists(_.endsWith("/base")), s"avg not substituted: $paths")
    assert(!reagg, "exact-step avg should collapse to sum/n division, no aggregate")
    val expect = withFlag(on = false)(rows(q))
    assert(got == expect && got.nonEmpty,
      "substituted sum/n diverged from Spark's native avg accumulation")
  }

  test("native avg() through a coarser slot with an UNALIGNED range (split path)") {
    val b = (RB + 3600L) * 1000000L
    def q: DataFrame = spark.read.parquet(s"$store/base")
      .filter(col("ts_us") >= b && col("ts_us") < RE * 1000000L)
      .groupBy(col("user_id"), col("event_type"),
        TimeSeriesOps.slotSec(43200L).as("slot_ts"))
      .agg(avg("cents").as("avg_cents"), count(lit(1)).as("n"))
    val (paths, got) = withFlag(on = true)((scanPaths(q), rows(q)))
    assert(paths.exists(_.endsWith("agg_21600")) &&
      paths.exists(_.endsWith("/base")),
      s"expected cascade interior + raw boundary for the avg split: $paths")
    val expect = withFlag(on = false)(rows(q))
    assert(got == expect && got.nonEmpty)
  }

  test("avg of a non-cents column blocks the rewrite") {
    def q: DataFrame = spark.read.parquet(s"$store/base")
      .groupBy(col("user_id"), col("event_type"),
        TimeSeriesOps.slotSec(21600L).as("slot_ts"))
      .agg(avg("ts_us").as("avg_ts"))
    val paths = withFlag(on = true)(scanPaths(q))
    assert(paths.exists(_.endsWith("/base")) &&
      !paths.exists(_.endsWith("agg_21600")),
      s"avg over a non-materialized column must stay raw: $paths")
  }

  // ---- M4 endpoint pair (round 10) ----------------------------------

  private def m4Agg(stepSec: Long, range: Option[(Long, Long)] = None): DataFrame = {
    val base = spark.read.parquet(s"$store/base")
    val src = range match {
      case Some((b, e)) =>
        base.filter(col("ts_us") >= b * 1000000L && col("ts_us") < e * 1000000L)
      case None => base
    }
    src.groupBy(col("user_id"), col("event_type"),
        TimeSeriesOps.slotSec(stepSec).as("slot_ts"))
      .agg(count(lit(1)).as("n"),
        min("cents").as("min_cents"), max("cents").as("max_cents"),
        min_by(col("cents"), struct(col("ts_us"), col("event_id"))).as("first_cents"),
        max_by(col("cents"), struct(col("ts_us"), col("event_id"))).as("last_cents"))
  }

  test("M4 endpoint shape: exact grain reads the stored argmin/argmax structs, no re-agg") {
    val (paths, reagg, got) = withFlag(on = true) {
      val df = m4Agg(21600L)
      (scanPaths(df), hasAggregate(df), rows(df))
    }
    assert(paths.exists(_.endsWith("agg_21600")) &&
      !paths.exists(_.endsWith("/base")),
      s"M4 shape should serve from the endpoint cascade columns: $paths")
    assert(!reagg, "exact-grain M4 is a pure Project over first/last structs")
    val expect = withFlag(on = false)(rows(m4Agg(21600L)))
    assert(got == expect && got.nonEmpty)
  }

  test("M4 endpoints re-minimize cell structs at a coarser grain across a SPLIT range") {
    // unaligned bounds: day-aligned interior from agg_86400 (struct
    // min/max of cell endpoints), boundary pieces contribute raw row
    // structs through the union — the argmin over the whole group is
    // still exact because (ts_us, event_id) is globally unique
    val r = Some((QB + 3600L, QE - 7200L))
    val (paths, got) = withFlag(on = true) {
      val df = m4Agg(86400L, r)
      (scanPaths(df), rows(df))
    }
    assert(paths.exists(_.endsWith("agg_86400")) &&
      paths.exists(_.endsWith("/base")),
      s"split M4 should union cascade interior + raw boundary: $paths")
    val expect = withFlag(on = false)(rows(m4Agg(86400L, r)))
    assert(got == expect && got.nonEmpty)
  }

  test("min_by under a NON-convention ordering (bare ts_us) blocks the rewrite") {
    // a bare-ts ordering is nondeterministic under (series, ts) ties;
    // the stored endpoint is tie-broken on event_id, so only the
    // repo-convention struct(ts_us, event_id) ordering substitutes
    def q: DataFrame = spark.read.parquet(s"$store/base")
      .groupBy(col("user_id"), col("event_type"),
        TimeSeriesOps.slotSec(21600L).as("slot_ts"))
      .agg(min_by(col("cents"), col("ts_us")).as("first_cents"))
    val paths = withFlag(on = true)(scanPaths(q))
    assert(paths.exists(_.endsWith("/base")) &&
      !paths.exists(_.contains("agg_")), s"$paths")
  }

  test("count(DISTINCT user_id) — the DAU dashboard — substitutes exactly") {
    def q: DataFrame = spark.read.parquet(s"$store/base")
      .filter(col("ts_us") >= RB * 1000000L && col("ts_us") < RE * 1000000L)
      .groupBy(col("event_type"), TimeSeriesOps.slotSec(86400L).as("slot_ts"))
      .agg(countDistinct("user_id").as("dau"), count(lit(1)).as("events"))
    val (paths, got) = withFlag(on = true)((scanPaths(q), rows(q)))
    assert(paths.exists(_.endsWith("agg_86400")) &&
      !paths.exists(_.endsWith("/base")),
      s"DAU should count the cascade's grain rows: $paths")
    val expect = withFlag(on = false)(rows(q))
    assert(got == expect && got.nonEmpty)
  }

  test("a distinct agg at the EXACT grain regroups instead of crashing (pre-fix: invalid Project)") {
    // before the distinct handling, the generic attribute fallback
    // buried a count(DISTINCT uid) AggregateExpression inside the
    // exact path's Project — optimizing this query THREW
    def q: DataFrame = spark.read.parquet(s"$store/base")
      .groupBy(col("user_id"), col("event_type"),
        TimeSeriesOps.slotSec(21600L).as("slot_ts"))
      .agg(countDistinct("user_id").as("du"), count(lit(1)).as("n"))
    val (paths, got) = withFlag(on = true)((scanPaths(q), rows(q)))
    assert(paths.exists(_.endsWith("agg_21600")) &&
      !paths.exists(_.endsWith("/base")), s"not substituted: $paths")
    val expect = withFlag(on = false)(rows(q))
    assert(got == expect && got.nonEmpty)
  }

  test("count(DISTINCT slot) — active periods per user — picks a level dividing the distinct step") {
    def q: DataFrame = spark.read.parquet(s"$store/base")
      .groupBy(col("user_id"))
      .agg(countDistinct(TimeSeriesOps.slotSec(86400L)).as("active_days"),
        count(lit(1)).as("n"))
    val (paths, got) = withFlag(on = true)((scanPaths(q), rows(q)))
    assert(paths.exists(_.endsWith("agg_86400")) &&
      !paths.exists(_.endsWith("/base")),
      s"active-days should read the day cascade: $paths")
    val expect = withFlag(on = false)(rows(q))
    assert(got == expect && got.nonEmpty)
  }

  test("approx_count_distinct(user_id) substitutes bit-identically (HLL++ is set-idempotent)") {
    // the cascade feeds each (user, day) tuple ONCE where raw feeds it
    // per event — but HLL++ registers are a max per bucket, so the
    // registers (hence the estimate) are bit-identical either way
    def q: DataFrame = spark.read.parquet(s"$store/base")
      .groupBy(col("event_type"), TimeSeriesOps.slotSec(86400L).as("slot_ts"))
      .agg(approx_count_distinct("user_id").as("dau_est"), count(lit(1)).as("n"))
    val (paths, got) = withFlag(on = true)((scanPaths(q), rows(q)))
    assert(paths.exists(_.endsWith("agg_86400")) &&
      !paths.exists(_.endsWith("/base")), s"not substituted: $paths")
    val expect = withFlag(on = false)(rows(q))
    assert(got == expect && got.nonEmpty,
      "HLL++ estimate over cascade grain rows diverged from raw")
    // exact grain + approx agg: must re-aggregate, not crash in a Project
    def qe: DataFrame = spark.read.parquet(s"$store/base")
      .groupBy(col("user_id"), col("event_type"),
        TimeSeriesOps.slotSec(21600L).as("slot_ts"))
      .agg(approx_count_distinct("user_id").as("du"))
    val (pathsE, gotE) = withFlag(on = true)((scanPaths(qe), rows(qe)))
    assert(pathsE.exists(_.endsWith("agg_21600")) && gotE.nonEmpty)
    assert(gotE == withFlag(on = false)(rows(qe)))
    // approx over a value column lost multiplicity-independence? No —
    // but cents is not a grain column, so it blocks like distinct
    def qc: DataFrame = spark.read.parquet(s"$store/base")
      .groupBy(col("event_type"), TimeSeriesOps.slotSec(86400L).as("slot_ts"))
      .agg(approx_count_distinct("cents").as("dc"))
    val pathsC = withFlag(on = true)(scanPaths(qc))
    assert(pathsC.exists(_.endsWith("/base")) && !pathsC.exists(_.contains("agg_")))
  }

  test("count(DISTINCT cents) lost its multiplicities in the cascade: blocks") {
    def q: DataFrame = spark.read.parquet(s"$store/base")
      .groupBy(col("event_type"), TimeSeriesOps.slotSec(86400L).as("slot_ts"))
      .agg(countDistinct("cents").as("dc"))
    val paths = withFlag(on = true)(scanPaths(q))
    assert(paths.exists(_.endsWith("/base")) &&
      !paths.exists(_.endsWith("agg_86400")),
      s"distinct over a value column must stay raw: $paths")
  }

  test("distinct counts survive an unaligned range split (dedup across interior+boundary)") {
    val b = (RB + 3600L) * 1000000L
    def q: DataFrame = spark.read.parquet(s"$store/base")
      .filter(col("ts_us") >= b && col("ts_us") < RE * 1000000L)
      .groupBy(col("event_type"), TimeSeriesOps.slotSec(86400L).as("slot_ts"))
      .agg(countDistinct("user_id").as("dau"))
    val (paths, got) = withFlag(on = true)((scanPaths(q), rows(q)))
    assert(paths.exists(_.endsWith("agg_86400")) &&
      paths.exists(_.endsWith("/base")),
      s"expected cascade interior + raw boundary: $paths")
    val expect = withFlag(on = false)(rows(q))
    assert(got == expect && got.nonEmpty)
  }

  test("a FILTER-clause aggregate blocks the rewrite (both rules)") {
    // pre-fix, the filtered aggregate matched none of convert's
    // AggregateExpression cases and the attribute fallback rewrote its
    // children — a half-converted aggregate over cascade rows (wrong
    // counts at coarser grain, an invalid Project at the exact grain)
    def q: DataFrame = spark.read.parquet(s"$store/base")
      .groupBy(col("user_id"), col("event_type"),
        TimeSeriesOps.slotSec(43200L).as("slot_ts"))
      .agg(expr("count(*) FILTER (WHERE event_type = 'click')").as("n_click"),
        sum("cents").as("sum_cents"))
    val (paths, got) = withFlag(on = true)((scanPaths(q), rows(q)))
    assert(paths.exists(_.endsWith("/base")) &&
      !paths.exists(_.contains("agg_")),
      s"FILTER-clause aggregate must stay raw: $paths")
    assert(got == withFlag(on = false)(rows(q)) && got.nonEmpty)
    // exact grain: the pre-fix crash shape — must not throw AND stay raw
    def qe: DataFrame = spark.read.parquet(s"$store/base")
      .groupBy(col("user_id"), col("event_type"),
        TimeSeriesOps.slotSec(21600L).as("slot_ts"))
      .agg(expr("count(*) FILTER (WHERE cents > 0)").as("n_pos"))
    val pathsE = withFlag(on = true)(scanPaths(qe))
    assert(pathsE.exists(_.endsWith("/base")) && !pathsE.exists(_.contains("agg_")))
  }

  test("a sub-day range falls through to the FINER level instead of raw") {
    // slotless "totals for the last 6 hours": the day level has no
    // aligned interior, but agg_21600 serves the range entirely
    val b = (RB + 21600L) * 1000000L
    val e = (RB + 43200L) * 1000000L
    def q: DataFrame = spark.read.parquet(s"$store/base")
      .filter(col("ts_us") >= b && col("ts_us") < e)
      .groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum("cents").as("sum_cents"))
    val (paths, got) = withFlag(on = true)((scanPaths(q), rows(q)))
    assert(paths.exists(_.endsWith("agg_21600")) &&
      !paths.exists(_.endsWith("/base")),
      s"sub-day range should serve from the finer level: $paths")
    val expect = withFlag(on = false)(rows(q))
    assert(got == expect && got.nonEmpty)
  }

  test("every replacement kind coexists in ONE aggregate (monoid + avg + distinct + approx)") {
    val b = (RB + 3600L) * 1000000L // unaligned: split path underneath it all
    def q: DataFrame = spark.read.parquet(s"$store/base")
      .filter(col("ts_us") >= b && col("ts_us") < RE * 1000000L)
      .groupBy(col("event_type"), TimeSeriesOps.slotSec(86400L).as("slot_ts"))
      .agg(count(lit(1)).as("n"), sum("cents").as("sum_cents"),
        min("cents").as("min_cents"), max("cents").as("max_cents"),
        avg("cents").as("avg_cents"), countDistinct("user_id").as("dau"),
        approx_count_distinct("user_id").as("dau_est"))
    val (paths, got) = withFlag(on = true)((scanPaths(q), rows(q)))
    assert(paths.exists(_.endsWith("agg_86400")) &&
      paths.exists(_.endsWith("/base")),
      s"expected cascade interior + raw boundary under the mixed aggregate: $paths")
    val expect = withFlag(on = false)(rows(q))
    assert(got == expect && got.nonEmpty,
      "mixed monoid/avg/distinct/approx replacements diverged")
  }

  test("pure SQL text over the base path substitutes too (SET the flag, no Scala API)") {
    // SQL-only consumers: the rule matches the resolved LogicalRelation,
    // so `FROM parquet.`<store>/base`` gets the same rewrite DataFrame
    // callers get — SET spark.graft.rollup.rewrite=true is the whole story
    def q: DataFrame = spark.sql(
      s"""SELECT user_id, event_type,
         |  (ts_us div 86400000000) * 86400 AS slot_ts,
         |  count(1) AS n, sum(cents) AS sum_cents
         |FROM parquet.`$store/base`
         |GROUP BY user_id, event_type, (ts_us div 86400000000) * 86400""".stripMargin)
    val (paths, got) = withFlag(on = true)((scanPaths(q), rows(q)))
    assert(paths.exists(_.endsWith("agg_86400")) &&
      !paths.exists(_.endsWith("/base")),
      s"SQL text should substitute like the DataFrame form: $paths")
    val expect = withFlag(on = false)(rows(q))
    assert(got == expect && got.nonEmpty)
  }

  test("a HAVING filter above the substituted aggregate composes (exprIds preserved)") {
    def q: DataFrame = spark.read.parquet(s"$store/base")
      .groupBy(col("user_id"), col("event_type"),
        TimeSeriesOps.slotSec(86400L).as("slot_ts"))
      .agg(count(lit(1)).as("n"), sum("cents").as("sum_cents"))
      .filter(col("n") >= 3 && col("sum_cents") > 0)
    val (paths, got) = withFlag(on = true)((scanPaths(q), rows(q)))
    assert(paths.exists(_.endsWith("agg_86400")) &&
      !paths.exists(_.endsWith("/base")),
      s"HAVING should not block the substitution: $paths")
    val expect = withFlag(on = false)(rows(q))
    assert(got == expect && got.nonEmpty)
  }

  test("Sort+Limit above a substituted aggregate plans TakeOrderedAndProject over the cascade") {
    def q: DataFrame = spark.read.parquet(s"$store/base")
      .filter(col("ts_us") >= RB * 1000000L && col("ts_us") < RE * 1000000L)
      .groupBy(col("user_id"), col("event_type"))
      .agg(sum("cents").as("sum_cents"))
      .orderBy(col("sum_cents").desc, col("user_id"), col("event_type"))
      .limit(5)
    val (paths, planStr, got) = withFlag(on = true) {
      val df = q
      (scanPaths(df), df.queryExecution.executedPlan.toString, rows(df))
    }
    assert(paths.exists(_.endsWith("agg_86400")) &&
      !paths.exists(_.endsWith("/base")), s"leaderboard should read the cascade: $paths")
    assert(planStr.contains("TakeOrderedAndProject"),
      s"top-k should not global-sort:\n$planStr")
    val expect = withFlag(on = false)(rows(q))
    assert(got == expect && got.nonEmpty)
  }

  test("monthly-layout store: range transfer emits 'YYYY-MM' dt prune literals") {
    import graft.sources.StoreLayout
    val dir = tempDir("graft_rollup_month")
    TsdbStore.ingest(spark, Tables.events(spark, Sf), dir,
      StoreLayout(monthly = true))
    def q: DataFrame = spark.read.parquet(s"$dir/base")
      .filter(col("ts_us") >= RB * 1000000L && col("ts_us") < RE * 1000000L)
      .groupBy(col("user_id"), col("event_type"),
        TimeSeriesOps.slotSec(86400L).as("slot_ts"))
      .agg(count(lit(1)).as("n"), sum("cents").as("sum_cents"),
        min("cents").as("min_cents"), max("cents").as("max_cents"))
    val (paths, plan, got) = withFlag(on = true) {
      val df = q
      (scanPaths(df), df.queryExecution.optimizedPlan.toString, rows(df))
    }
    assert(paths.exists(_.endsWith("agg_86400")), s"not substituted: $paths")
    assert(plan.contains("2024-01"), s"monthly dt prune literal missing:\n$plan")
    val expect = withFlag(on = false)(rows(q))
    assert(got == expect && got.nonEmpty)
  }

  // ---- rate-cascade substitution (the delta aggregate → rate_T) ----

  private def deltaAgg(stepSec: Long,
                       heartbeatSec: Long = 21600L,
                       nativeWrap: Boolean = false,
                       rangeAboveUs: Option[(Long, Long)] = None,
                       rangeBelowUs: Option[(Long, Long)] = None): DataFrame = {
    val cap = Tables.WrapCap
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id", "event_type").orderBy("ts_us", "event_id")
    val base = spark.read.parquet(s"$store/base")
    val src = rangeBelowUs match {
      case Some((b, e)) => base.filter(col("ts_us") >= b && col("ts_us") < e)
      case None => base
    }
    val winged = src
      .withColumn("prev_cents", lag("cents", 1).over(w))
      .withColumn("prev_ts_us", lag("ts_us", 1).over(w))
      .withColumn("dt_us", col("ts_us") - col("prev_ts_us"))
      .withColumn("delta_cents",
        if (nativeWrap) expr(s"wrap_delta(prev_cents, cents, ${cap}L)")
        else ((col("cents") - col("prev_cents")) % cap + cap) % cap)
      .filter(col("prev_ts_us").isNotNull &&
        col("dt_us") <= heartbeatSec * 1000000L)
    val ranged = rangeAboveUs match {
      case Some((b, e)) => winged.filter(col("ts_us") >= b && col("ts_us") < e)
      case None => winged
    }
    // stepSec = 0 = the SLOTLESS per-series counter range total
    val keys =
      if (stepSec == 0L) Seq(col("user_id"), col("event_type"))
      else Seq(col("user_id"), col("event_type"),
        TimeSeriesOps.slotSec(stepSec).as("slot_ts"))
    ranged
      .groupBy(keys: _*)
      .agg(count(lit(1)).as("n_valid"), sum("delta_cents").as("delta_cents"),
        sum("dt_us").as("dt_us"))
  }

  private def hasWindow(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.collectFirst {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }.nonEmpty

  test("exact-step delta aggregate collapses to a Project over the rate cascade") {
    val (paths, win, reagg, got) = withFlag(on = true) {
      val df = deltaAgg(21600L)
      (scanPaths(df), hasWindow(df), hasAggregate(df), rows(df))
    }
    assert(paths.exists(_.endsWith("rate_21600")), s"rate cascade not substituted: $paths")
    assert(!paths.exists(_.endsWith("/base")), s"base scan survived: $paths")
    assert(!win, "the lag window must disappear with the rewrite")
    assert(!reagg, "exact-step rate hit should not re-aggregate")
    val expect = withFlag(on = false)(rows(deltaAgg(21600L)))
    assert(got == expect && got.nonEmpty,
      "rate-substituted result differs from the raw window pipeline")
  }

  test("coarser delta request re-sums the finer rate level") {
    val (paths, got) = withFlag(on = true) {
      val df = deltaAgg(43200L)
      (scanPaths(df), rows(df))
    }
    assert(paths.exists(_.endsWith("rate_21600")), s"not substituted: $paths")
    assert(!paths.exists(_.endsWith("/base")), s"base scan survived: $paths")
    val expect = withFlag(on = false)(rows(deltaAgg(43200L)))
    assert(got == expect && got.nonEmpty)
  }

  test("the native wrap_delta form substitutes like the arithmetic form") {
    val (paths, got) = withFlag(on = true) {
      val df = deltaAgg(21600L, nativeWrap = true)
      (scanPaths(df), rows(df))
    }
    assert(paths.exists(_.endsWith("rate_21600")), s"not substituted: $paths")
    val expect = withFlag(on = false)(rows(deltaAgg(21600L, nativeWrap = true)))
    assert(got == expect && got.nonEmpty)
  }

  test("a heartbeat different from the stamped one blocks the rate rewrite") {
    val (paths, got) = withFlag(on = true) {
      val df = deltaAgg(21600L, heartbeatSec = 7200L)
      (scanPaths(df), rows(df))
    }
    assert(paths.exists(_.endsWith("/base")) &&
      !paths.exists(_.contains("rate_")),
      s"a 2h-heartbeat delta is NOT the cascade's content: $paths")
    val expect = withFlag(on = false)(rows(deltaAgg(21600L, heartbeatSec = 7200L)))
    assert(got == expect && got.nonEmpty)
  }

  test("slotless counter range totals re-sum the coarsest rate level") {
    // "bytes moved per series in the last N days" — no slot at all
    def q: DataFrame = deltaAgg(0L,
      rangeAboveUs = Some((RB * 1000000L, RE * 1000000L)))
    val (paths, got) = withFlag(on = true)((scanPaths(q), rows(q)))
    assert(paths.exists(_.endsWith("rate_86400")) &&
      !paths.exists(_.endsWith("/base")),
      s"slotless counter total should re-sum the coarsest rate level: $paths")
    val expect = withFlag(on = false)(rows(q))
    assert(got == expect && got.nonEmpty)
  }

  test("rate bounds aligned only at a finer level transfer THERE instead of blocking") {
    // 6h-aligned bounds on a day-slot request: rate_86400 fails the
    // alignment gate, rate_21600 passes — serve from the finer level
    val b = (RB + 21600L) * 1000000L
    def q: DataFrame = deltaAgg(86400L, rangeAboveUs = Some((b, RE * 1000000L)))
    val (paths, got) = withFlag(on = true)((scanPaths(q), rows(q)))
    assert(paths.exists(_.endsWith("rate_21600")) &&
      !paths.exists(_.endsWith("/base")),
      s"finer-aligned range should pick the finer rate level: $paths")
    val expect = withFlag(on = false)(rows(q))
    assert(got == expect && got.nonEmpty)
  }

  test("a T-aligned ts_us range ABOVE the window transfers onto the rate cascade") {
    val r = Some((RB * 1000000L, RE * 1000000L))
    val (paths, got) = withFlag(on = true) {
      val df = deltaAgg(21600L, rangeAboveUs = r)
      (scanPaths(df), rows(df))
    }
    assert(paths.exists(_.endsWith("rate_21600")), s"not substituted: $paths")
    assert(!paths.exists(_.endsWith("/base")), s"base scan survived: $paths")
    val expect = withFlag(on = false)(rows(deltaAgg(21600L, rangeAboveUs = r)))
    assert(got == expect && got.nonEmpty)
  }

  test("a ts_us range BELOW the window blocks the rate rewrite (changes the previous sample)") {
    val r = Some((RB * 1000000L, RE * 1000000L))
    val (paths, got) = withFlag(on = true) {
      val df = deltaAgg(21600L, rangeBelowUs = r)
      (scanPaths(df), rows(df))
    }
    assert(paths.exists(_.endsWith("/base")) &&
      !paths.exists(_.contains("rate_")),
      s"a pre-window time filter is NOT the cascade's content: $paths")
    val expect = withFlag(on = false)(rows(deltaAgg(21600L, rangeBelowUs = r)))
    assert(got == expect && got.nonEmpty)
  }

  // ---- substitution above a series-key dim join (round 8) -----------

  private def dimTable(dup: Boolean = false): DataFrame = {
    val d = spark.range(500).select(col("id").as("user_id"),
      concat(lit("t"), col("id") % 3).as("tier"),
      (col("id") % 7).as("weight"))
    if (dup) d.union(d.limit(5)) else d
  }

  test("an enriched rollup above a unique dim join substitutes (base ⋈ meta skips raw)") {
    def q: DataFrame = spark.read.parquet(s"$store/base")
      .join(broadcast(dimTable()), "user_id")
      .groupBy(col("tier"), TimeSeriesOps.slotSec(86400L).as("slot_ts"))
      .agg(count(lit(1)).as("n"), sum("cents").as("sum_cents"))
    val (paths, got) = withFlag(on = true)((scanPaths(q), rows(q)))
    assert(paths.exists(_.endsWith("agg_86400")) &&
      !paths.exists(_.endsWith("/base")),
      s"the enriched rollup should rejoin the cascade, not raw: $paths")
    val expect = withFlag(on = false)(rows(q))
    assert(got == expect && got.nonEmpty)
  }

  test("exact-grain enriched rollup stays a pure Project over cascade ⋈ dim") {
    def q: DataFrame = spark.read.parquet(s"$store/base")
      .join(broadcast(dimTable()), "user_id")
      .groupBy(col("user_id"), col("event_type"), col("tier"),
        TimeSeriesOps.slotSec(21600L).as("slot_ts"))
      .agg(count(lit(1)).as("n"), sum("cents").as("sum_cents"))
    val (paths, noAgg, got) =
      withFlag(on = true)((scanPaths(q), !hasAggregate(q), rows(q)))
    assert(paths.exists(_.endsWith("agg_21600")) &&
      !paths.exists(_.endsWith("/base")), s"$paths")
    assert(noAgg, "full grain + unique dim key is still 1:1 with cascade " +
      "cells — no re-aggregation needed")
    val expect = withFlag(on = false)(rows(q))
    assert(got == expect && got.nonEmpty)
  }

  test("a dim column named user_id groups as a DIM key, not the base series key") {
    // two series, one per event_type; the dim is unique on event_type
    // and carries its OWN user_id column (100 for every row). Grouping
    // by the dim's user_id must keep that column: matching grouping
    // keys by name used to rebind it to the cascade's user_id and the
    // optimized plan failed with an unresolvable attribute
    val two = tempDir("graft_rollup_dimkey")
    TsdbStore.ingest(spark, spark.range(200).select(
      col("id").as("event_id"),
      timestamp_micros(lit(QB * 1000000L) + col("id") * lit(3600L * 1000000L)).as("ts"),
      (col("id") % 2 + 1).as("user_id"),
      when(col("id") % 2 === 0, "click").otherwise("view").as("event_type"),
      (col("id") % 97).cast("double").as("value"), lit("{}").as("props")), two)
    val dim = spark.createDataFrame(Seq(("click", 100L), ("view", 100L)))
      .toDF("event_type", "user_id")
    def q: DataFrame = spark.read.parquet(s"$two/base").as("b")
      .join(broadcast(dim.as("d")), col("b.event_type") === col("d.event_type"))
      .groupBy(col("d.user_id"), TimeSeriesOps.slotSec(86400L).as("slot_ts"))
      .agg(count(lit(1)).as("n"), sum("cents").as("sum_cents"))
    val (paths, got) = withFlag(on = true)((scanPaths(q), rows(q)))
    assert(paths.exists(_.endsWith("agg_86400")) &&
      !paths.exists(_.endsWith("/base")), s"$paths")
    val expect = withFlag(on = false)(rows(q))
    assert(got == expect && got.nonEmpty && got.forall(_.head == 100L))
  }

  test("a NON-unique dim blocks the enriched rewrite (fan-out would under-count)") {
    def q: DataFrame = spark.read.parquet(s"$store/base")
      .join(dimTable(dup = true), "user_id")
      .groupBy(col("tier"), TimeSeriesOps.slotSec(86400L).as("slot_ts"))
      .agg(count(lit(1)).as("n"), sum("cents").as("sum_cents"))
    val paths = withFlag(on = true)(scanPaths(q))
    assert(paths.exists(_.endsWith("/base")) &&
      !paths.exists(_.contains("agg_")),
      s"duplicate join keys fan base rows out — must stay raw: $paths")
  }

  test("dim-side aggregates: set-safe ones ride along, multiplicity-sensitive ones block") {
    // count(DISTINCT tier) / max(tier) see the same SET over cascade
    // cells as over raw rows — they substitute
    def qa: DataFrame = spark.read.parquet(s"$store/base")
      .join(broadcast(dimTable()), "user_id")
      .groupBy(TimeSeriesOps.slotSec(86400L).as("slot_ts"))
      .agg(countDistinct(col("tier")).as("tiers"), max(col("tier")).as("mx"),
        count(lit(1)).as("n"))
    val (pa, ga) = withFlag(on = true)((scanPaths(qa), rows(qa)))
    assert(pa.exists(_.endsWith("agg_86400")) && !pa.exists(_.endsWith("/base")),
      s"set-safe dim aggregates should substitute: $pa")
    assert(ga == withFlag(on = false)(rows(qa)) && ga.nonEmpty)
    // sum(weight) multiplies by each cell's row count in raw but once
    // per cell in the cascade — must block
    def qb: DataFrame = spark.read.parquet(s"$store/base")
      .join(broadcast(dimTable()), "user_id")
      .groupBy(TimeSeriesOps.slotSec(86400L).as("slot_ts"))
      .agg(sum(col("weight")).as("w"))
    val pb = withFlag(on = true)(scanPaths(qb))
    assert(pb.exists(_.endsWith("/base")) && !pb.exists(_.contains("agg_")),
      s"a multiplicity-sensitive dim aggregate must stay raw: $pb")
  }

  // ---- stats gate + optimize-time cache (round 8) --------------------

  private val Ratio = "spark.graft.rollup.minSizeRatio"

  test("the size-ratio gate declines a cascade that is not meaningfully smaller") {
    // one sample per (series, 6h cell): agg_21600 holds exactly one
    // row per base row, so the rewrite cannot win a demanded 4x scan
    // margin — the rule declines; ratio 0 disables the gate
    val sparse = {
      val dir = tempDir("graft_rollup_sparse")
      val feed = spark.range(400).select(
        col("id").as("event_id"),
        timestamp_micros(lit(QB * 1000000L) + col("id") * lit(21600L * 1000000L)).as("ts"),
        (col("id") % 4).as("user_id"), lit("click").as("event_type"),
        (col("id") % 97).cast("double").as("value"), lit("{}").as("props"))
      TsdbStore.ingest(spark, feed, dir)
      dir
    }
    def q: DataFrame = spark.read.parquet(s"$sparse/base")
      .groupBy(col("user_id"), col("event_type"),
        TimeSeriesOps.slotSec(21600L).as("slot_ts"))
      .agg(count(lit(1)).as("n"), sum("cents").as("sum_cents"))
    // zero the size floor: the fixture is far below the 16 MB
    // metadata-amortization threshold the gate normally stands
    // aside under, and this test is about the ratio logic itself
    val Floor = "spark.graft.rollup.sizeGateFloorBytes"
    spark.conf.set(Ratio, "4.0")
    spark.conf.set(Floor, "0")
    try {
      val paths = withFlag(on = true)(scanPaths(q))
      assert(paths.exists(_.endsWith("/base")) &&
        !paths.exists(_.contains("agg_")),
        s"a 1:1 cascade cannot repay the rewrite at ratio 4: $paths")
    } finally { spark.conf.unset(Ratio); spark.conf.unset(Floor) }
    spark.conf.set(Ratio, "0")
    try {
      val paths = withFlag(on = true)(scanPaths(q))
      assert(paths.exists(_.endsWith("agg_21600")),
        s"ratio 0 disables the gate: $paths")
    } finally spark.conf.unset(Ratio)
  }

  test("cached store support data stays correct across incremental upsert (fresh listings)") {
    // the rule caches layout/schema/existence per store root but NOT
    // file listings — an upsert commits new partitions without touching
    // _LAYOUT, and a substituted read after it must see the new rows
    val s2 = {
      val dir = tempDir("graft_rollup_cachefresh")
      TsdbStore.ingest(spark,
        Tables.events(spark, Sf).filter(col("event_id") % 2 === 0), dir,
        graft.sources.StoreLayout(commit = "manifest"))
      dir
    }
    def q: DataFrame = TsdbStore.readTable(spark, s2, "base")
      .groupBy(col("user_id"), col("event_type"),
        TimeSeriesOps.slotSec(86400L).as("slot_ts"))
      .agg(count(lit(1)).as("n"), sum("cents").as("sum_cents"))
    val before = withFlag(on = true)(rows(q)) // warms the cache
    TsdbStore.upsertIncremental(spark,
      Tables.events(spark, Sf).filter(col("event_id") % 2 === 1), s2)
    val after = withFlag(on = true)(rows(q))
    val expect = withFlag(on = false)(rows(q))
    assert(after == expect, "stale cached state served a retired listing")
    assert(after != before, "the upsert should have changed the rollup")
  }

  // ---- quantile-cascade substitution (round 8) ----------------------

  private val QB = 1704844800L // day-aligned flagship range
  private val QE = 1705708800L

  private def pdiscAgg(src: String, stepSec: Long,
                       range: Option[(Long, Long)] = None,
                       fleet: Boolean = false): DataFrame = {
    val base = spark.read.parquet(s"$src/base")
    val ranged = range match {
      case Some((b, e)) =>
        base.filter(col("ts_us") >= b * 1000000L && col("ts_us") < e * 1000000L)
      case None => base
    }
    val keys =
      (if (fleet) Seq(col("event_type")) else Seq(col("user_id"), col("event_type"))) ++
      (if (stepSec != 0L) Seq(TimeSeriesOps.slotSec(stepSec).as("slot_ts")) else Nil)
    ranged.groupBy(keys: _*)
      .agg(expr("percentile_disc(0.95) WITHIN GROUP (ORDER BY cents)").as("p95"))
  }

  test("exact-grain percentile_disc serves from the quant cascade as a pure Project") {
    def q: DataFrame = pdiscAgg(store, 86400L, range = Some((QB, QE)))
    val (paths, noAgg, got) =
      withFlag(on = true)((scanPaths(q), !hasAggregate(q), rows(q)))
    assert(paths.exists(_.endsWith("quant_86400")) &&
      !paths.exists(_.endsWith("/base")),
      s"exact nearest-rank p95 should read the quant family: $paths")
    assert(noAgg, "exact-grain quantile hit must be a pure Project over " +
      "stored buffers (no re-aggregation, no shuffle)")
    val expect = withFlag(on = false)(rows(q))
    assert(got == expect && got.nonEmpty)
  }

  test("fleet grain + multiple quantiles + derived outputs merge sketches and convert leaf-by-leaf") {
    def q: DataFrame = spark.read.parquet(s"$store/base")
      .groupBy(col("event_type"), TimeSeriesOps.slotSec(86400L).as("slot_ts"))
      .agg(expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY cents)").as("p50"),
        expr("percentile_disc(0.95) WITHIN GROUP (ORDER BY cents)").as("p95"))
      .select(col("event_type"), col("slot_ts"),
        (col("p95") - col("p50")).as("spread"), col("p50"))
    val (paths, got) = withFlag(on = true)((scanPaths(q), rows(q)))
    assert(paths.exists(_.endsWith("quant_86400")) &&
      !paths.exists(_.endsWith("/base")),
      s"fleet quantile should semilattice-merge the quant family: $paths")
    val expect = withFlag(on = false)(rows(q))
    assert(got == expect && got.nonEmpty)
  }

  test("slotless per-series percentile merges every slot's sketch") {
    def q: DataFrame = pdiscAgg(store, 0L, range = Some((QB, QE)))
    val (paths, got) = withFlag(on = true)((scanPaths(q), rows(q)))
    assert(paths.exists(_.endsWith("quant_86400")) &&
      !paths.exists(_.endsWith("/base")), s"$paths")
    val expect = withFlag(on = false)(rows(q))
    assert(got == expect && got.nonEmpty)
  }

  test("percentile_disc over a non-cents column blocks the quantile rewrite") {
    def q: DataFrame = spark.read.parquet(s"$store/base")
      .groupBy(col("user_id"), col("event_type"),
        TimeSeriesOps.slotSec(86400L).as("slot_ts"))
      .agg(expr("percentile_disc(0.95) WITHIN GROUP (ORDER BY ts_us)").as("p95"))
    val paths = withFlag(on = true)(scanPaths(q))
    assert(paths.exists(_.endsWith("/base")) &&
      !paths.exists(_.contains("quant_")),
      s"only the cents column is materialized in the quant family: $paths")
  }

  test("an unaligned bound blocks the quantile rewrite (no split path)") {
    def q: DataFrame = pdiscAgg(store, 86400L, range = Some((QB + 3600L, QE)))
    val paths = withFlag(on = true)(scanPaths(q))
    assert(paths.exists(_.endsWith("/base")) &&
      !paths.exists(_.contains("quant_")),
      s"a raw boundary piece cannot join a sketch merge: $paths")
  }

  test("the sub-K exactness gate declines an over-dense cell") {
    // 600 samples in ONE (user, type, day) cell: the stored sketch
    // truncates at K=512, so the nearest-rank read would be an
    // ESTIMATE — the rule must prove exactness off agg_86400's counts
    // and leave the raw plan alone
    val dense = {
      val dir = tempDir("graft_rollup_dense")
      val feed = spark.range(600).select(
        col("id").as("event_id"),
        timestamp_micros(lit(QB * 1000000L) + col("id") * 1000000L).as("ts"),
        lit(1L).as("user_id"), lit("click").as("event_type"),
        (col("id") % 97).cast("double").as("value"),
        lit("{}").as("props"))
      TsdbStore.ingest(spark, feed, dir)
      dir
    }
    def q: DataFrame = pdiscAgg(dense, 86400L)
    val (paths, got) = withFlag(on = true)((scanPaths(q), rows(q)))
    assert(paths.exists(_.endsWith("/base")) &&
      !paths.exists(_.contains("quant_")),
      s"an estimate must never masquerade as percentile_disc's exact " +
        s"answer: $paths")
    val expect = withFlag(on = false)(rows(q))
    assert(got == expect && got.nonEmpty)
  }

  // ---- interpolated (percentile_cont) quantile reads (round 9) ------

  test("exact-grain percentile_cont serves from the quant cascade as a pure Project") {
    // ANSI percentile_cont resolves to the Percentile aggregate before
    // the optimizer runs; a sub-K cell's stored sample is its FULL
    // multiset, and contRead mirrors PercentileBase's interpolation
    // arithmetic — so rewritten rows must EQUAL raw rows bit-for-bit
    def q: DataFrame = spark.read.parquet(s"$store/base")
      .filter(col("ts_us") >= QB * 1000000L && col("ts_us") < QE * 1000000L)
      .groupBy(col("user_id"), col("event_type"),
        TimeSeriesOps.slotSec(86400L).as("slot_ts"))
      .agg(expr("percentile_cont(0.25) WITHIN GROUP (ORDER BY cents)").as("p25"),
        expr("percentile_cont(0.9) WITHIN GROUP (ORDER BY cents)").as("p90"))
    val (paths, noAgg, got) =
      withFlag(on = true)((scanPaths(q), !hasAggregate(q), rows(q)))
    assert(paths.exists(_.endsWith("quant_86400")) &&
      !paths.exists(_.endsWith("/base")),
      s"exact interpolated quantile should read the quant family: $paths")
    assert(noAgg, "exact-grain cont hit must be a pure Project")
    val expect = withFlag(on = false)(rows(q))
    assert(got == expect && got.nonEmpty)
  }

  test("mixed disc+cont quantiles share one substituted scan and convert leaf-by-leaf") {
    def q: DataFrame = spark.read.parquet(s"$store/base")
      .groupBy(col("event_type"), TimeSeriesOps.slotSec(86400L).as("slot_ts"))
      .agg(expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY cents)").as("med"),
        expr("percentile_cont(0.5) WITHIN GROUP (ORDER BY cents)").as("med_i"))
      .select(col("event_type"), col("slot_ts"),
        (col("med_i") - col("med")).as("interp_gap"), col("med"))
    val (paths, got) = withFlag(on = true)((scanPaths(q), rows(q)))
    assert(paths.exists(_.endsWith("quant_86400")) &&
      !paths.exists(_.endsWith("/base")),
      s"disc+cont should share the quant scan: $paths")
    val expect = withFlag(on = false)(rows(q))
    assert(got == expect && got.nonEmpty)
  }

  test("enriched quantile: p95 per dim attribute merges sketches per dim group") {
    // base ⋈ unique dim, grouped by a DIM attribute — the quantile
    // path unwraps the join, gates per (tier, slot) GROUP, and joins
    // quant_T to the untouched dim subtree; rewritten rows must equal
    // raw rows (the stored buffers hold every sample of each evaluated
    // group at this fixture's density)
    def q: DataFrame = spark.read.parquet(s"$store/base")
      .filter(col("ts_us") >= QB * 1000000L && col("ts_us") < QE * 1000000L)
      .join(broadcast(dimTable()), "user_id")
      .groupBy(col("tier"), TimeSeriesOps.slotSec(21600L).as("slot_ts"))
      .agg(expr("percentile_disc(0.95) WITHIN GROUP (ORDER BY cents)").as("p95"),
        expr("percentile_cont(0.5) WITHIN GROUP (ORDER BY cents)").as("med_i"))
    val (paths, got) = withFlag(on = true)((scanPaths(q), rows(q)))
    assert(paths.exists(_.endsWith("quant_21600")) &&
      !paths.exists(_.endsWith("/base")),
      s"enriched quantile should read quant ⋈ dim, never raw: $paths")
    val expect = withFlag(on = false)(rows(q))
    assert(got == expect && got.nonEmpty)
  }

  test("dim grouping columns named q_0 / cnt can't capture the generated read aliases") {
    // the internal read aliases are __graft_-prefixed (round 10): a dim
    // attribute named like a plausible user column (q_0 — e.g. a
    // quarter; cnt) must neither shadow the rewritten percentile output
    // (silent wrong values) nor make the gate's max-count ambiguous
    // (optimize-time throw) — the rewrite fires and matches raw
    def q: DataFrame = spark.read.parquet(s"$store/base")
      .filter(col("ts_us") >= QB * 1000000L && col("ts_us") < QE * 1000000L)
      .join(broadcast(dimTable().withColumnRenamed("tier", "q_0")
        .withColumnRenamed("weight", "cnt")), "user_id")
      .groupBy(col("q_0"), col("cnt"), TimeSeriesOps.slotSec(21600L).as("slot_ts"))
      .agg(expr("percentile_disc(0.95) WITHIN GROUP (ORDER BY cents)").as("p95"))
    val (paths, got) = withFlag(on = true)((scanPaths(q), rows(q)))
    assert(paths.exists(_.endsWith("quant_21600")) &&
      !paths.exists(_.endsWith("/base")),
      s"q_0/cnt-named dim columns must not block or corrupt the rewrite: $paths")
    val expect = withFlag(on = false)(rows(q))
    assert(got == expect && got.nonEmpty)
    // a dim column in the engine's own __graft_ namespace declines
    def qBad: DataFrame = spark.read.parquet(s"$store/base")
      .join(broadcast(dimTable().withColumnRenamed("tier", "__graft_q_0")), "user_id")
      .groupBy(col("__graft_q_0"), TimeSeriesOps.slotSec(86400L).as("slot_ts"))
      .agg(expr("percentile_disc(0.95) WITHIN GROUP (ORDER BY cents)").as("p95"))
    val badPaths = withFlag(on = true)(scanPaths(qBad))
    assert(badPaths.exists(_.endsWith("/base")) &&
      !badPaths.exists(_.contains("quant_")), s"$badPaths")
  }

  test("optimize-time gate jobs cache on the store content stamp: " +
      "repeat queries hit, a mutation invalidates") {
    // VERDICT r10 wrong #2: the sub-K count and dim-uniqueness gates
    // used to run 1-2 Spark jobs before EVERY substituted plan. They
    // now cache per (store _DATA_STAMP, gate inputs): a dashboard
    // re-firing the same query pays them once; any TsdbStore mutation
    // bumps the stamp and the next optimize re-runs them.
    val dir = tempDir("graft_rollup_gatecache")
    TsdbStore.ingest(spark, Tables.events(spark, Sf), dir,
      graft.sources.StoreLayout(commit = "manifest"))
    // parquet-backed dim so its content is fingerprintable (a purely
    // local dim declines caching by design)
    val dimPath = s"$dir/dim_tiers"
    dimTable().write.parquet(dimPath)
    def q: DataFrame = TsdbStore.readTable(spark, dir, "base")
      .filter(col("ts_us") >= QB * 1000000L && col("ts_us") < QE * 1000000L)
      .join(broadcast(spark.read.parquet(dimPath)), "user_id")
      .groupBy(col("tier"), TimeSeriesOps.slotSec(21600L).as("slot_ts"))
      .agg(expr("percentile_disc(0.95) WITHIN GROUP (ORDER BY cents)").as("p95"))
    def jobs: Long = graft.plans.RollupSubstitution.gateJobsRun.get()
    withFlag(on = true) {
      val paths1 = scanPaths(q)
      assert(paths1.exists(_.contains("/quant_21600/")), s"no rewrite: $paths1")
      val afterFirst = jobs
      val r1 = rows(q)
      val r2 = rows(q)
      assert(jobs == afterFirst,
        s"repeat optimizations of an unchanged store must serve both " +
          s"gates from cache (jobs $afterFirst -> $jobs)")
      assert(r1 == r2 && r1.nonEmpty)
      // mutate the store: the replayed event bumps _DATA_STAMP, so the
      // next optimize must re-run the gates (the sub-K answer could
      // genuinely have changed) — and the rewrite still matches raw
      val replay = Tables.events(spark, Sf).limit(1)
        .withColumn("value", col("value") + lit(1.0))
      TsdbStore.upsertIncremental(spark, replay, dir)
      val n2 = jobs
      val r3 = rows(q)
      assert(jobs > n2, "a store mutation must invalidate the gate cache")
      val expect = withFlag(on = false)(rows(q))
      assert(r3 == expect)
    }
  }

  test("over-K gate branches: per-range counts are keyed by range AND series; " +
      "a cached over-K global bound with approx on skips the job") {
    // review r11 #2: the global/rng fast paths need their own pins.
    // Fixture: day A holds 600 samples (over K=512) for (1, click);
    // day B holds 50 for (1, click) and 50 for (2, click).
    val dir = tempDir("graft_rollup_overk")
    val dayB = QB + 86400L
    val feed = spark.range(600).select(
        col("id").as("event_id"),
        timestamp_micros(lit(QB * 1000000L) + col("id") * 1000000L).as("ts"),
        lit(1L).as("user_id"), lit("click").as("event_type"),
        (col("id") % 97).cast("double").as("value"), lit("{}").as("props"))
      .unionByName(spark.range(100).select(
        (col("id") + 1000L).as("event_id"),
        timestamp_micros(lit(dayB * 1000000L) + col("id") * 1000000L).as("ts"),
        (col("id") % 2 + 1L).as("user_id"), lit("click").as("event_type"),
        (col("id") % 31).cast("double").as("value"), lit("{}").as("props")))
    TsdbStore.ingest(spark, feed, dir)
    def pq(df: DataFrame): DataFrame = df
      .groupBy(col("user_id"), col("event_type"),
        TimeSeriesOps.slotSec(86400L).as("slot_ts"))
      .agg(expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY cents)").as("p50"))
    def base = spark.read.parquet(s"$dir/base")
    def jobs: Long = graft.plans.RollupSubstitution.gateJobsRun.get()
    // NOTE: withFlag scopes are SEQUENTIAL, never nested — the inner
    // finally UNSETS the flag, so a nested flag-off comparison would
    // silently leave the rest of the outer block running flag-off
    // (this very test caught that the first way it was written)
    // 1. unfiltered query: declines (600 >= K) and caches global=600
    val allPaths = withFlag(on = true)(scanPaths(pq(base)))
    assert(allPaths.exists(_.endsWith("/base")),
      "over-K store must decline the unfiltered quantile")
    // 2. range-filtered to day B: per-range job finds 50 < K -> exact
    //    substitution, rows == raw
    def qB = pq(base.filter(col("ts_us") >= dayB * 1000000L &&
      col("ts_us") < (dayB + 86400L) * 1000000L))
    val (bPaths, bGot) = withFlag(on = true)((scanPaths(qB), rows(qB)))
    assert(bPaths.exists(_.contains("quant_")),
      s"sub-K range of an over-K store must substitute: $bPaths")
    assert(bGot == withFlag(on = false)(rows(qB)) && bGot.nonEmpty)
    // 3. the rng key must DISCRIMINATE series filters: user 2 has no
    //    day-A rows (count 0 -> substitutes) while user 1's day A is
    //    over-K (must decline) — a key that dropped the series text
    //    would reuse 0 for user 1 and serve an estimate as exact
    def qA(uid: Long) = pq(base.filter(col("user_id") === uid)
      .filter(col("ts_us") >= QB * 1000000L &&
        col("ts_us") < (QB + 86400L) * 1000000L))
    val (a2Paths, a1Paths) =
      withFlag(on = true)((scanPaths(qA(2L)), scanPaths(qA(1L))))
    assert(a2Paths.exists(_.contains("quant_")),
      s"empty-range series filter should substitute: $a2Paths")
    assert(a1Paths.exists(_.endsWith("/base")) &&
      !a1Paths.exists(_.contains("quant_")),
      "over-K series filter MUST decline — the rng cache key failed " +
        "to discriminate the series condition")
    // 4. approx flag on + cached over-K global: substitutes with NO
    //    additional gate job (the per-range count is skipped)
    spark.conf.set("spark.graft.rollup.quantile.approx", "true")
    try withFlag(on = true) {
      val before = jobs
      val qApprox = pq(base.filter(col("ts_us") >= QB * 1000000L &&
        col("ts_us") < (QB + 86400L) * 1000000L))
      assert(scanPaths(qApprox).exists(_.contains("quant_")),
        "approx flag must substitute above the cached over-K bound")
      assert(jobs == before,
        "approx-on above a cached over-K global bound must not run " +
          "the per-range gate job")
    } finally spark.conf.unset("spark.graft.rollup.quantile.approx")
  }

  test("a CAST-wrapped unsupported aggregate declines without blowing the stack") {
    // regression (round 10): convert's decline branches must return the
    // MATCHED node, not the outer expression — returning the outer
    // expression from a nested match makes transformDown re-wrap one
    // level per visit and recurse without bound. The trigger shape is
    // any unsupported aggregate under a Cast folded into the output
    // list (show()/write() fold such casts via CollapseProject).
    def q: DataFrame = spark.read.parquet(s"$store/base")
      .groupBy(col("event_type"))
      .agg(sum("ts_us").cast("string").as("s"),
        expr("percentile_disc(0.95) WITHIN GROUP (ORDER BY cents)")
          .cast("string").as("p"))
    val paths = withFlag(on = true)(scanPaths(q))
    assert(paths.exists(_.endsWith("/base")), s"$paths")
    val got = withFlag(on = true)(rows(q))
    assert(got == withFlag(on = false)(rows(q)) && got.nonEmpty)
  }

  test("over-dense cells: the approx flag opts into the sketch estimate (default declines)") {
    // 2000 samples land in ONE 6 h cell (≥ K=512): the stored buffer
    // is a uniform K-sample, so by default the rule declines — the
    // exactness contract. spark.graft.rollup.quantile.approx=true
    // serves the O(1/√K)-rank-error estimate from the sketch instead
    // (the production-density case where the rewrite pays most).
    val dir = tempDir("graft_rollup_dense3")
    val feed = spark.range(2000).select(
      col("id").as("event_id"),
      timestamp_micros(lit(QB * 1000000L) + col("id") * 1000L).as("ts"),
      lit(1L).as("user_id"), lit("click").as("event_type"),
      (col("id").cast("double") / 100.0).as("value"), // cents = id: 0..1999
      lit("{}").as("props"))
    TsdbStore.ingest(spark, feed, dir)
    def q: DataFrame = spark.read.parquet(s"$dir/base")
      .groupBy(col("user_id"), col("event_type"),
        TimeSeriesOps.slotSec(21600L).as("slot_ts"))
      .agg(expr("percentile_disc(0.95) WITHIN GROUP (ORDER BY cents)").as("p95"))
    val offPaths = withFlag(on = true)(scanPaths(q))
    assert(offPaths.exists(_.endsWith("/base")) &&
      !offPaths.exists(_.contains("quant_")),
      s"≥K cells must decline by default: $offPaths")
    val (onPaths, est) = withFlag(on = true) {
      spark.conf.set("spark.graft.rollup.quantile.approx", "true")
      try {
        val df = q
        (scanPaths(df), df.collect().head.get(3) match {
          case d: java.lang.Double => d.doubleValue
          case l: java.lang.Long => l.toDouble
        })
      } finally spark.conf.unset("spark.graft.rollup.quantile.approx")
    }
    assert(onPaths.exists(_.contains("quant_")) &&
      !onPaths.exists(_.endsWith("/base")),
      s"approx opt-in should serve the sketch: $onPaths")
    // exact p95 of 0..1999 is element ceil(.95·2000)=1900 → 1899; a
    // uniform 512-sample's rank error is ~1%·n — 200 is > 4σ
    assert(math.abs(est - 1899.0) <= 200.0,
      s"sketch estimate $est implausibly far from exact 1899")
  }

  test("the enriched-quantile gate sums samples per DIM GROUP, not per cell") {
    // two series in ONE band, 300 same-day samples each: every
    // (series, day) cell is sub-K (300 < 512) but the (band, day)
    // GROUP holds 600 — a merged buffer would truncate, so the rule
    // must decline even though the plain per-series gate would pass
    val dense2 = {
      val dir = tempDir("graft_rollup_dense2")
      val feed = spark.range(600).select(
        col("id").as("event_id"),
        timestamp_micros(lit(QB * 1000000L) + (col("id") % 300L) * 1000000L).as("ts"),
        (col("id") % 2L + 1L).as("user_id"), lit("click").as("event_type"),
        (col("id") % 97).cast("double").as("value"),
        lit("{}").as("props"))
      TsdbStore.ingest(spark, feed, dir)
      TsdbStore.ingestMetadata(spark,
        spark.range(2).select((col("id") + 1L).as("user_id"),
          col("id").as("ver_id"), lit(0L).as("valid_from_us"),
          lit(5000L).as("speed_cents")), dir)
      dir
    }
    def dim = spark.read.parquet(s"$dense2/meta")
      .filter(col("valid_to_us") === Long.MaxValue)
      .select(col("user_id"), expr("speed_cents div 1000").as("band"))
    def q: DataFrame = spark.read.parquet(s"$dense2/base")
      .join(broadcast(dim), "user_id")
      .groupBy(col("band"), TimeSeriesOps.slotSec(86400L).as("slot_ts"))
      .agg(expr("percentile_disc(0.95) WITHIN GROUP (ORDER BY cents)").as("p95"))
    val (paths, got) = withFlag(on = true)((scanPaths(q), rows(q)))
    assert(paths.exists(_.endsWith("/base")) &&
      !paths.exists(_.contains("quant_")),
      s"a 600-sample dim group must decline the sketch read: $paths")
    val expect = withFlag(on = false)(rows(q))
    assert(got == expect && got.nonEmpty)
    // sanity: the plain per-series grain over the same store DOES
    // rewrite (each cell is sub-K) — the decline above is the dim
    // group's union, not the store's density
    def qCell: DataFrame = spark.read.parquet(s"$dense2/base")
      .groupBy(col("user_id"), col("event_type"),
        TimeSeriesOps.slotSec(86400L).as("slot_ts"))
      .agg(expr("percentile_disc(0.95) WITHIN GROUP (ORDER BY cents)").as("p95"))
    val cellPaths = withFlag(on = true)(scanPaths(qCell))
    assert(cellPaths.exists(_.contains("quant_")), s"$cellPaths")
  }

  test("percentile_cont over a non-cents column blocks the quantile rewrite") {
    def q: DataFrame = spark.read.parquet(s"$store/base")
      .groupBy(col("user_id"), col("event_type"),
        TimeSeriesOps.slotSec(86400L).as("slot_ts"))
      .agg(expr("percentile_cont(0.5) WITHIN GROUP (ORDER BY ts_us)").as("p50"))
    val paths = withFlag(on = true)(scanPaths(q))
    assert(paths.exists(_.endsWith("/base")) &&
      !paths.exists(_.contains("quant_")), s"$paths")
  }

  test("time filters and flag-off leave the plan alone; maintenance is immune") {
    // flag off: no rewrite even on the perfect shape
    val offPaths = withFlag(on = false)(scanPaths(slotAgg(21600L)))
    assert(offPaths.exists(_.endsWith("/base")) &&
      !offPaths.exists(_.endsWith("agg_21600")))
    // a NON-RANGE ts_us predicate does not transfer -> blocked
    // (aligned bounds transfer, unaligned bounds split — see above)
    val tsPaths = withFlag(on = true) {
      val base = spark.read.parquet(s"$store/base")
        .filter(expr("pmod(ts_us, 2) = 0"))
      scanPaths(base.groupBy(col("user_id"), col("event_type"),
          TimeSeriesOps.slotSec(21600L).as("slot_ts"))
        .agg(count(lit(1)).as("n"), sum("cents").as("sum_cents"),
          min("cents").as("min_cents"), max("cents").as("max_cents")))
    }
    assert(tsPaths.exists(_.endsWith("/base")) &&
      !tsPaths.exists(_.endsWith("agg_21600")),
      "ts_us-filtered aggregate must not be substituted")
    // maintenance entry points force the flag off internally: an upsert
    // under a live flag rebuilds a correct cascade (its internal
    // downsample-from-base is NOT substituted onto the stale cascade)
    val maintained = tempDir("graft_rollup_maint")
    TsdbStore.ingest(spark, Tables.events(spark, Sf), maintained,
      graft.sources.StoreLayout(commit = "manifest"))
    withFlag(on = true) {
      val late = Tables.events(spark, Sf).limit(50)
      TsdbStore.upsertIncremental(spark, late, maintained)
    }
    val cascade = TsdbStore.readTable(spark, maintained, "agg_21600")
    val recomputed = withFlag(on = false) {
      TimeSeriesOps.downsample(TsdbStore.readTable(spark, maintained, "base"), 21600L)
    }
    assert(rows(cascade.select("user_id", "event_type", "slot_ts", "n",
        "sum_cents", "min_cents", "max_cents")) == rows(recomputed),
      "maintenance under a live flag corrupted the cascade")
  }

  // ---- manifest layout (round 15, VERDICT r14 next #1): the rewrite
  //      must fire on the snapshot-resolved read — the object-store
  //      deployment layout — and decline exactly the unsound shapes --

  private lazy val manifestStore: String = {
    val dir = tempDir("graft_rollup_mani")
    TsdbStore.ingest(spark, Tables.events(spark, Sf), dir,
      graft.sources.StoreLayout(commit = "manifest"))
    dir
  }

  private def manifestSlotAgg(stepSec: Long): DataFrame =
    TsdbStore.readTable(spark, manifestStore,
        TsdbStore.readLayout(spark, manifestStore), "base")
      .groupBy(col("user_id"), col("event_type"),
        TimeSeriesOps.slotSec(stepSec).as("slot_ts"))
      .agg(count(lit(1)).as("n"), sum("cents").as("sum_cents"),
        min("cents").as("min_cents"), max("cents").as("max_cents"))

  test("manifest store: exact-step hit substitutes the snapshot-resolved cascade") {
    val (paths, reagg, got) = withFlag(on = true) {
      val df = manifestSlotAgg(21600L)
      (scanPaths(df), hasAggregate(df), rows(df))
    }
    assert(paths.nonEmpty && paths.forall(_.contains("/_segs/")),
      s"substituted read should resolve through segments: $paths")
    assert(paths.exists(_.contains("/agg_21600/dt=")),
      s"cascade not substituted on the manifest layout: $paths")
    assert(!paths.exists(_.contains("/base/dt=")), s"base scan survived: $paths")
    assert(!reagg, "exact-step hit should not re-aggregate")
    val expect = withFlag(on = false)(rows(manifestSlotAgg(21600L)))
    assert(got == expect && got.nonEmpty,
      "manifest-substituted result differs from the raw-scan result")
  }

  test("manifest store: a MUTATION invalidates the cached snapshot — the rewrite answers from the new one") {
    val pre = withFlag(on = true)(rows(manifestSlotAgg(21600L)))
    val replay = Tables.events(spark, Sf)
      .filter(col("user_id") === 7 && col("event_type") === "click" &&
        col("ts") >= lit("2024-01-09") && col("ts") < lit("2024-01-11"))
      .withColumn("value", col("value") + 2.0)
    TsdbStore.upsertIncremental(spark, replay, manifestStore)
    val (paths, got) = withFlag(on = true) {
      val df = manifestSlotAgg(21600L)
      (scanPaths(df), rows(df))
    }
    assert(paths.exists(_.contains("/agg_21600/dt=")),
      s"rewrite stopped firing after the mutation: $paths")
    val expect = withFlag(on = false)(rows(manifestSlotAgg(21600L)))
    assert(got == expect, "post-mutation substituted result is stale")
    assert(got != pre, "the replay should have changed the rollup")
  }

  test("manifest store: a TIME-TRAVEL base read declines (live cascade would be the wrong snapshot)") {
    // runs after the mutation above: the retained pre-upsert snapshot's
    // base set differs from live, so substituting the live cascade
    // would silently answer post-upsert values for a pre-upsert read
    val versions = TsdbStore.snapshotVersions(spark, manifestStore)
    assert(versions.size >= 2, s"expected retained history: $versions")
    val old = versions.init.last
    def q: DataFrame = TsdbStore.readTableAt(spark, manifestStore, "base", old)
      .groupBy(col("user_id"), col("event_type"),
        TimeSeriesOps.slotSec(21600L).as("slot_ts"))
      .agg(count(lit(1)).as("n"), sum("cents").as("sum_cents"),
        min("cents").as("min_cents"), max("cents").as("max_cents"))
    val (paths, got) = withFlag(on = true)((scanPaths(q), rows(q)))
    assert(paths.exists(_.contains("/base/dt=")) &&
      !paths.exists(_.contains("/agg_21600/")),
      s"time-travel read must NOT substitute the live cascade: $paths")
    val expect = withFlag(on = false)(rows(q))
    assert(got == expect && got.nonEmpty)
    // and the old snapshot's answer differs from live (the hazard is real)
    assert(got != withFlag(on = false)(rows(manifestSlotAgg(21600L))),
      "fixture should make old and live snapshots disagree")
  }
}
