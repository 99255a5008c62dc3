package graft

import org.apache.spark.sql.functions._

import graft.sources.TsdbStore

/** graft_fetch SQL table function: parity with the Scala fetch API
  * across arg arities and cfs, and clear rejection of bad calls. */
class TvfSpec extends SparkSpec {

  private lazy val store: String = {
    val dir = tempDir("graft_tvf")
    TsdbStore.ingest(spark, Tables.events(spark, Sf), dir)
    dir
  }

  private val B = 1704844800L
  private val E = 1705708800L

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
    df.collect().map(_.toSeq).toSeq

  test("SQL text resolves to the same rows as the Scala API, every arity") {
    // raw fetch (5 args)
    assert(rows(spark.sql(s"SELECT * FROM graft_fetch('$store', 7, 'click', $B, $E)")) ==
      rows(TsdbStore.fetch(spark, store, 7L, "click", B, E)))
    // consolidated (6 args, default cf)
    assert(rows(spark.sql(
        s"SELECT * FROM graft_fetch('$store', 3, 'view', $B, $E, 21600)")) ==
      rows(TsdbStore.fetch(spark, store, 3L, "view", B, E, aggStep = 21600L)))
    // counter cf (7 args) reads the rate cascade
    assert(rows(spark.sql(
        s"SELECT * FROM graft_fetch('$store', 3, 'view', $B, $E, 21600, 'rate')")) ==
      rows(TsdbStore.fetch(spark, store, 3L, "view", B, E,
        aggStep = 21600L, cf = "rate")))
    // endpoint cf (round 10) reads the stored argmax struct
    assert(rows(spark.sql(
        s"SELECT * FROM graft_fetch('$store', 3, 'view', $B, $E, 21600, 'last')")) ==
      rows(TsdbStore.fetch(spark, store, 3L, "view", B, E,
        aggStep = 21600L, cf = "last")))
  }

  test("60 random-parameter graft_fetch calls equal the Scala API (round-11 fuzz)") {
    // the hand-picked arities above pin the resolution paths; this
    // pins that NO random (series, range, step, cf) combination can
    // make the TVF and the Scala fetch diverge
    val r = new scala.util.Random(88L)
    val cfsAll = Seq("average", "min", "max", "sum", "raw", "first",
      "last", "delta", "rate")
    val failures = (0 until 60).flatMap { i =>
      val userId = r.nextInt(15).toLong
      val etype = Seq("click", "view", "purchase", "signup", "error")(r.nextInt(5))
      val step = Seq(0L, 21600L, 86400L)(r.nextInt(3))
      val cf = cfsAll(r.nextInt(cfsAll.length))
      val begin = 1704067200L + r.nextInt(20).toLong * 86400L + r.nextInt(86400)
      val end = begin + 3600L + r.nextInt(7 * 86400)
      try {
        val (sqlText, scala0) =
          if (step == 0L)
            (s"SELECT * FROM graft_fetch('$store', $userId, '$etype', $begin, $end)",
              TsdbStore.fetch(spark, store, userId, etype, begin, end))
          else
            (s"SELECT * FROM graft_fetch('$store', $userId, '$etype', " +
              s"$begin, $end, $step, '$cf')",
              TsdbStore.fetch(spark, store, userId, etype, begin, end,
                aggStep = step, cf = cf))
        // multiset compare: the step=0 path orders by ts_us only, so
        // tied-timestamp rows may interleave differently between the
        // two physical plans
        def bag(df: org.apache.spark.sql.DataFrame) =
          rows(df).map(_.toString).sorted
        if (bag(spark.sql(sqlText)) == bag(scala0)) None
        else Some(s"draw $i: $sqlText diverged from the Scala API")
      } catch {
        case ex: Throwable => Some(s"draw $i crashed: ${ex.getMessage}")
      }
    }
    assert(failures.isEmpty,
      s"${failures.size} divergences:\n${failures.take(5).mkString("\n")}")
  }

  test("graft_fetch_bulk: SQL parity with the Scala API, incl. counter cf") {
    assert(rows(spark.sql(
        s"SELECT * FROM graft_fetch_bulk('$store', $B, $E, 21600, 'average', " +
          "1, 'click', 2, 'view')")) ==
      rows(TsdbStore.fetchBulk(spark, store,
        Seq((1L, "click"), (2L, "view")), B, E, aggStep = 21600L)))
    assert(rows(spark.sql(
        s"SELECT * FROM graft_fetch_bulk('$store', $B, $E, 21600, 'delta', " +
          "7, 'click')")) ==
      rows(TsdbStore.fetchBulk(spark, store,
        Seq((7L, "click")), B, E, aggStep = 21600L, cf = "delta")))
  }

  test("graft_fetch_filled: SQL parity for null and interp fills") {
    assert(rows(spark.sql(
        s"SELECT * FROM graft_fetch_filled('$store', 7, 'click', $B, $E, 21600)")) ==
      rows(TsdbStore.fetchFilled(spark, store, 7L, "click", B, E,
        aggStep = 21600L)))
    assert(rows(spark.sql(
        s"SELECT * FROM graft_fetch_filled('$store', 65, 'error', $B, $E, " +
          "21600, 'max', 'interp')")) ==
      rows(TsdbStore.fetchFilled(spark, store, 65L, "error", B, E,
        aggStep = 21600L, cf = "max", fill = "interp")))
  }

  test("graft_fetch_bulk_filled: SQL parity with the Scala API") {
    assert(rows(spark.sql(
        s"SELECT * FROM graft_fetch_bulk_filled('$store', $B, $E, 21600, " +
          "'average', 7, 'click', 3, 'view')")) ==
      rows(TsdbStore.fetchBulkFilled(spark, store,
        Seq((7L, "click"), (3L, "view")), B, E, aggStep = 21600L)))
    val oddTail = intercept[Exception] {
      spark.sql(s"SELECT * FROM graft_fetch_bulk_filled('$store', $B, $E, " +
        "21600, 'sum', 4)").collect()
    }
    assert(oddTail.getMessage.contains("usage: graft_fetch_bulk_filled"),
      oddTail.getMessage)
  }

  test("graft_fetch_quantile: SQL parity with the Scala API") {
    assert(rows(spark.sql(
        s"SELECT * FROM graft_fetch_quantile('$store', 7, 'click', $B, $E, 86400, 0.95)")) ==
      rows(TsdbStore.fetchQuantile(spark, store, 7L, "click", B, E, 86400L, 0.95)))
    // integer quantile literal (q = 1 → the per-slot maximum)
    assert(rows(spark.sql(
        s"SELECT * FROM graft_fetch_quantile('$store', 7, 'click', $B, $E, 86400, 1)")) ==
      rows(TsdbStore.fetchQuantile(spark, store, 7L, "click", B, E, 86400L, 1.0)))
    val tooFew = intercept[Exception] {
      spark.sql(s"SELECT * FROM graft_fetch_quantile('$store', 7, 'click', $B, $E)")
        .collect()
    }
    assert(tooFew.getMessage.contains("usage: graft_fetch_quantile"), tooFew.getMessage)
    val badQ = intercept[Exception] {
      spark.sql(s"SELECT * FROM graft_fetch_quantile('$store', 7, 'click', $B, $E, " +
        "86400, 1.5)").collect()
    }
    assert(badQ.getMessage.contains("quantile out of"), badQ.getMessage)
  }

  test("graft_fetch_quantile 'cont' mode: SQL parity with the interpolated Scala read") {
    assert(rows(spark.sql(
        s"SELECT * FROM graft_fetch_quantile('$store', 7, 'click', $B, $E, " +
          "86400, 0.75, 'cont')")) ==
      rows(TsdbStore.fetchQuantile(spark, store, 7L, "click", B, E, 86400L,
        0.75, interp = true)))
    // explicit 'disc' is the default nearest-rank read
    assert(rows(spark.sql(
        s"SELECT * FROM graft_fetch_quantile('$store', 7, 'click', $B, $E, " +
          "86400, 0.95, 'disc')")) ==
      rows(TsdbStore.fetchQuantile(spark, store, 7L, "click", B, E, 86400L, 0.95)))
    val badMode = intercept[Exception] {
      spark.sql(s"SELECT * FROM graft_fetch_quantile('$store', 7, 'click', $B, $E, " +
        "86400, 0.5, 'interp')").collect()
    }
    assert(badMode.getMessage.contains("'disc' or 'cont'"), badMode.getMessage)
  }

  test("sub-K interpolated fetch equals percentile_cont over raw samples") {
    // the exactness claim for the cont read path: below K samples per
    // slot the merged buffer is the slot's full multiset, and
    // quantContRead mirrors PercentileBase — so the store read must
    // equal evaluating percentile_cont over the raw base rows
    // BIT-FOR-BIT. q = 0.95 and 0.33 are deliberately NON-dyadic: the
    // interpolation weights are then inexact doubles, which is exactly
    // where a formula-variant or literal-type divergence shows up (a
    // string-interpolated q parses as a DECIMAL literal and runs the
    // whole read in decimal arithmetic — the bug this test pins);
    // dyadic q like 0.75 is exact under every variant and proves
    // nothing about the arithmetic
    for (q <- Seq(0.75, 0.95, 0.33)) {
      val got = rows(TsdbStore.fetchQuantile(spark, store, 7L, "click",
        B, E, 86400L, q, interp = true))
      val raw = rows(spark.read.parquet(s"$store/base")
        .filter(col("user_id") === 7L && col("event_type") === "click")
        .filter(col("ts_us") >= B * 1000000L && col("ts_us") < E * 1000000L)
        .groupBy(graft.operators.TimeSeriesOps.slotSec(86400L).as("slot_ts"))
        .agg((expr(s"percentile_cont($q) WITHIN GROUP (ORDER BY cents)") / 100.0)
          .as("value"))
        .orderBy("slot_ts"))
      assert(got == raw && got.nonEmpty, s"q = $q diverged from raw")
    }
    // percentile_cont(0) is the minimum and must be accepted by the
    // interp path (nearest-rank rightly rejects q = 0)
    val minRead = rows(TsdbStore.fetchQuantile(spark, store, 7L, "click",
      B, E, 86400L, 0.0, interp = true))
    val rawMin = rows(spark.read.parquet(s"$store/base")
      .filter(col("user_id") === 7L && col("event_type") === "click")
      .filter(col("ts_us") >= B * 1000000L && col("ts_us") < E * 1000000L)
      .groupBy(graft.operators.TimeSeriesOps.slotSec(86400L).as("slot_ts"))
      .agg((min("cents").cast("double") / 100.0).as("value"))
      .orderBy("slot_ts"))
    assert(minRead == rawMin && minRead.nonEmpty)
  }

  test("graft_fetch_bulk_quantile: SQL parity and loud rejections") {
    assert(rows(spark.sql(
        s"SELECT * FROM graft_fetch_bulk_quantile('$store', $B, $E, 86400, 0.95, " +
          "7, 'click', 3, 'view')")) ==
      rows(TsdbStore.fetchBulkQuantile(spark, store,
        Seq((7L, "click"), (3L, "view")), B, E, 86400L, 0.95)))
    // interpolated bulk read: trailing 'cont' is the mode, never
    // confusable with the alternating pair tail (pairs come in twos)
    assert(rows(spark.sql(
        s"SELECT * FROM graft_fetch_bulk_quantile('$store', $B, $E, 86400, 0.75, " +
          "7, 'click', 3, 'view', 'cont')")) ==
      rows(TsdbStore.fetchBulkQuantile(spark, store,
        Seq((7L, "click"), (3L, "view")), B, E, 86400L, 0.75, interp = true)))
    // an odd tail whose last element is not a mode is still rejected
    // loudly (it is parsed AS the mode and fails that check)
    val oddTail = intercept[Exception] {
      spark.sql(s"SELECT * FROM graft_fetch_bulk_quantile('$store', $B, $E, 86400, " +
        "0.95, 7, 'click', 3)").collect()
    }
    assert(oddTail.getMessage.contains("'disc' or 'cont'"), oddTail.getMessage)
    val zeroStep = intercept[Exception] {
      spark.sql(s"SELECT * FROM graft_fetch_bulk_quantile('$store', $B, $E, 0, " +
        "0.95, 7, 'click')").collect()
    }
    assert(zeroStep.getMessage.contains("positive slot step"), zeroStep.getMessage)
  }

  test("graft_fetch_fleet_quantile: SQL parity and loud rejection") {
    assert(rows(spark.sql(
        s"SELECT * FROM graft_fetch_fleet_quantile('$store', 'click', $B, $E, 86400, 0.95)")) ==
      rows(TsdbStore.fetchFleetQuantile(spark, store, "click", B, E, 86400L, 0.95)))
    assert(rows(spark.sql(
        s"SELECT * FROM graft_fetch_fleet_quantile('$store', 'click', $B, $E, " +
          "86400, 0.75, 'cont')")) ==
      rows(TsdbStore.fetchFleetQuantile(spark, store, "click", B, E, 86400L,
        0.75, interp = true)))
    val badTail = intercept[Exception] {
      spark.sql(s"SELECT * FROM graft_fetch_fleet_quantile('$store', 'click', $B, $E, " +
        "86400, 0.95, 7)").collect()
    }
    assert(badTail.getMessage.contains("'disc' or 'cont'"), badTail.getMessage)
    val tooMany = intercept[Exception] {
      spark.sql(s"SELECT * FROM graft_fetch_fleet_quantile('$store', 'click', $B, $E, " +
        "86400, 0.95, 'cont', 7)").collect()
    }
    assert(tooMany.getMessage.contains("usage: graft_fetch_fleet_quantile"),
      tooMany.getMessage)
  }

  test("enriched quantile in PURE SQL composes through the rule (the dim-join SQL story)") {
    // there is deliberately NO graft_fetch_quantile_enriched TVF: the
    // dim-joined percentile shape is open-ended (any metadata
    // attribute, any grouping), so the SQL-only path is plain SQL over
    // base ⋈ meta with SET spark.graft.rollup.rewrite=true — the
    // optimizer rule composes the unique-join unwrap with the quantile
    // read exactly like the Scala/rule path (documented at the TVF
    // registration site). This pins that story: same text, flag on vs
    // off, identical rows, and the flag-on plan reads quant_, not base.
    TsdbStore.ingestMetadata(spark,
      spark.range(100).select((col("id") + 1L).as("user_id"),
        col("id").as("ver_id"), lit(0L).as("valid_from_us"),
        (col("id") % 5L * 1000L).as("speed_cents")), store)
    def q = spark.sql(
      s"""SELECT m.band, (b.ts_us div 21600000000) * 21600 AS slot_ts,
         |  percentile_disc(0.95) WITHIN GROUP (ORDER BY b.cents) AS p95
         |FROM parquet.`$store/base` b
         |JOIN (SELECT user_id, speed_cents div 1000 AS band
         |      FROM parquet.`$store/meta`
         |      WHERE valid_to_us = ${Long.MaxValue}) m
         |  ON m.user_id = b.user_id
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)
    def scanPaths(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.queryExecution.optimizedPlan.collect {
        case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          l.relation match {
            case f: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
              f.location.rootPaths.map(_.toString)
            case _ => Seq.empty[String]
          }
      }.flatten
    def withFlag[A](on: Boolean)(body: => A): A = {
      spark.conf.set("spark.graft.rollup.rewrite", on.toString)
      try body finally spark.conf.unset("spark.graft.rollup.rewrite")
    }
    val (paths, got) = withFlag(on = true)((scanPaths(q), rows(q)))
    assert(paths.exists(_.contains("quant_")) &&
      !paths.exists(_.endsWith("/base")),
      s"pure-SQL enriched quantile should read quant_ via the rule: $paths")
    val expect = withFlag(on = false)(rows(q))
    assert(got == expect && got.nonEmpty)
  }

  test("bad bulk/filled calls fail with the usage message") {
    val oddTail = intercept[Exception] {
      spark.sql(s"SELECT * FROM graft_fetch_bulk('$store', $B, $E, 21600, " +
        "'sum', 4, 'click', 9)").collect()
    }
    assert(oddTail.getMessage.contains("usage: graft_fetch_bulk"), oddTail.getMessage)
    val noSeries = intercept[Exception] {
      spark.sql(s"SELECT * FROM graft_fetch_bulk('$store', $B, $E, 21600, 'sum')")
        .collect()
    }
    assert(noSeries.getMessage.contains("usage: graft_fetch_bulk"), noSeries.getMessage)
    val badUser = intercept[Exception] {
      spark.sql(s"SELECT * FROM graft_fetch_bulk('$store', $B, $E, 21600, 'sum', " +
        "'seven', 'click')").collect()
    }
    assert(badUser.getMessage.contains("graft_fetch_bulk: expected an integer literal"),
      badUser.getMessage)
    val rawFill = intercept[Exception] {
      spark.sql(s"SELECT * FROM graft_fetch_filled('$store', 7, 'click', $B, $E)")
        .collect()
    }
    assert(rawFill.getMessage.contains("usage: graft_fetch_filled"), rawFill.getMessage)
    val badFill = intercept[Exception] {
      spark.sql(s"SELECT * FROM graft_fetch_filled('$store', 7, 'click', $B, $E, " +
        "21600, 'max', 'zeroes')").collect()
    }
    assert(badFill.getMessage.contains("unknown fill"), badFill.getMessage)
  }

  test("bad calls fail with the usage message, not a planner stack trace") {
    val tooFew = intercept[Exception] {
      spark.sql(s"SELECT * FROM graft_fetch('$store', 7)").collect()
    }
    assert(tooFew.getMessage.contains("usage: graft_fetch"), tooFew.getMessage)
    val badAgg = intercept[Exception] {
      spark.sql(s"SELECT * FROM graft_fetch('$store', 7, 'click', $B, $E, 12345)")
        .collect()
    }
    assert(badAgg.getMessage.contains("no such aggregate"), badAgg.getMessage)
  }
}
