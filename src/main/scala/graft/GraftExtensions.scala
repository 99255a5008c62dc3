package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

import graft.functions.{DotProduct, WrapDelta}
import graft.plans.SimplifyEpochRoundTrips

/** Session extensions registering graft's native Catalyst functions
  * and optimizer rules.
  * Install with `SparkSession.builder().withExtensions(new GraftExtensions)`
  * or `--conf spark.sql.extensions=graft.GraftExtensions` on a cluster.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectOptimizerRule(_ => SimplifyEpochRoundTrips)
    ext.injectOptimizerRule(session => graft.plans.RollupSubstitution(session))
    ext.injectOptimizerRule(_ => graft.plans.DropOrphanGathers)
    ext.injectPlannerStrategy(_ => graft.plans.AsofJoinStrategy)
    ext.injectFunction((
      FunctionIdentifier("wrap_delta"),
      new ExpressionInfo(classOf[WrapDelta].getCanonicalName, "wrap_delta"),
      (children: Seq[Expression]) => WrapDelta(children(0), children(1), children(2))))
    ext.injectFunction((
      FunctionIdentifier("vec_dot"),
      new ExpressionInfo(classOf[DotProduct].getCanonicalName, "vec_dot"),
      (children: Seq[Expression]) => DotProduct(children(0), children(1))))
    // the reference's flagship REST fetch as a SQL TABLE FUNCTION —
    // entry point 1 [pub: esxsnmp newdb.py GET .../<series>?begin=&end=
    // &agg=&cf= — unverified, SURVEY.md §0] becomes
    //   SELECT * FROM graft_fetch('<store>', user, 'type', begin, end
    //                             [, agg_step [, cf]])
    // resolving to the SAME pruned logical plan the Scala API builds
    // (partition pruning, cascade reads, cf dispatch all intact).
    // Arguments must be literals: the plan is built at resolution time.
    ext.injectTableFunction((
      FunctionIdentifier("graft_fetch"),
      new ExpressionInfo("graft.sources.TsdbStore", "graft_fetch"),
      (args: Seq[Expression]) => GraftExtensions.fetchPlan(args)))
    // entry point 3 (POST /bulk) for SQL-only consumers: many series in
    // one pruned scan —
    //   SELECT * FROM graft_fetch_bulk('<store>', begin, end, agg_step,
    //                                  cf, uid1, 'type1'[, uid2, 'type2' …])
    ext.injectTableFunction((
      FunctionIdentifier("graft_fetch_bulk"),
      new ExpressionInfo("graft.sources.TsdbStore", "graft_fetch_bulk"),
      (args: Seq[Expression]) => GraftExtensions.fetchBulkPlan(args)))
    // the REST-parity dense grid for SQL-only consumers —
    //   SELECT * FROM graft_fetch_filled('<store>', user, 'type', begin,
    //                                    end, agg_step[, cf[, fill]])
    ext.injectTableFunction((
      FunctionIdentifier("graft_fetch_filled"),
      new ExpressionInfo("graft.sources.TsdbStore", "graft_fetch_filled"),
      (args: Seq[Expression]) => GraftExtensions.fetchFilledPlan(args)))
    // bulk dense grids — the last Scala-only read surface:
    //   SELECT * FROM graft_fetch_bulk_filled('<store>', begin, end,
    //     agg_step, cf, uid1, 'type1'[, uid2, 'type2' …])
    ext.injectTableFunction((
      FunctionIdentifier("graft_fetch_bulk_filled"),
      new ExpressionInfo("graft.sources.TsdbStore", "graft_fetch_bulk_filled"),
      (args: Seq[Expression]) => GraftExtensions.fetchBulkFilledPlan(args)))
    // percentile dashboards from the quantile column family in SQL —
    //   SELECT * FROM graft_fetch_quantile('<store>', user, 'type',
    //                                      begin, end, agg_step, q[, 'disc'|'cont'])
    // (every quantile TVF takes the optional trailing mode: 'disc' =
    // nearest-rank, the default; 'cont' = linear interpolation)
    //
    // There is deliberately NO *_enriched TVF for the dim-joined
    // percentile shape (p95 per metadata attribute): the shape is
    // open-ended (any dim attribute, any grouping), so the SQL-only
    // path is plain SQL over base ⋈ meta with
    //   SET spark.graft.rollup.rewrite=true
    // — the optimizer rule (plans/RollupSubstitution) unwraps the
    // unique dim join and serves the read from quant_<step> exactly
    // like the fixed-arity TVFs do for their shapes. TvfSpec pins the
    // parity; a fixed-arity TVF could only ever cover one grouping.
    ext.injectTableFunction((
      FunctionIdentifier("graft_fetch_quantile"),
      new ExpressionInfo("graft.sources.TsdbStore", "graft_fetch_quantile"),
      (args: Seq[Expression]) => GraftExtensions.fetchQuantilePlan(args)))
    // bulk percentiles — the alternating series tail, like graft_fetch_bulk:
    //   SELECT * FROM graft_fetch_bulk_quantile('<store>', begin, end,
    //     agg_step, q, uid1, 'type1'[, uid2, 'type2' …])
    ext.injectTableFunction((
      FunctionIdentifier("graft_fetch_bulk_quantile"),
      new ExpressionInfo("graft.sources.TsdbStore", "graft_fetch_bulk_quantile"),
      (args: Seq[Expression]) => GraftExtensions.fetchBulkQuantilePlan(args)))
    // fleet-wide percentiles —
    //   SELECT * FROM graft_fetch_fleet_quantile('<store>', 'type',
    //                                            begin, end, agg_step, q)
    ext.injectTableFunction((
      FunctionIdentifier("graft_fetch_fleet_quantile"),
      new ExpressionInfo("graft.sources.TsdbStore", "graft_fetch_fleet_quantile"),
      (args: Seq[Expression]) => GraftExtensions.fetchFleetQuantilePlan(args)))
  }
}

object GraftExtensions {
  private def strArg(e: Expression): String =
    String.valueOf(e.eval(org.apache.spark.sql.catalyst.InternalRow.empty))
  /** 'disc' (nearest-rank, the default) vs 'cont' (interpolated). */
  private def modeArg(fn: String, e: Expression): Boolean =
    strArg(e) match {
      case "cont" => true
      case "disc" => false
      case other => throw new IllegalArgumentException(
        s"$fn: mode must be 'disc' or 'cont', got '$other'")
    }
  private def longArg(e: Expression): Long =
    e.eval(org.apache.spark.sql.catalyst.InternalRow.empty) match {
      case l: java.lang.Long => l
      case i: java.lang.Integer => i.toLong
      case other => throw new IllegalArgumentException(
        s"graft_fetch: expected an integer literal, got $other")
    }

  private def doubleArg(e: Expression): Double =
    e.eval(org.apache.spark.sql.catalyst.InternalRow.empty) match {
      case d: java.lang.Double => d
      case f: java.lang.Float => f.toDouble
      case dec: org.apache.spark.sql.types.Decimal => dec.toDouble
      case l: java.lang.Long => l.toDouble
      case i: java.lang.Integer => i.toDouble
      case other => throw new IllegalArgumentException(
        s"graft_fetch_quantile: expected a numeric literal, got $other")
    }

  /** Resolve graft_fetch_quantile(...) — the quantile column family's
    * read path for SQL-only consumers (same plan as the Scala API). */
  private[graft] def fetchQuantilePlan(args: Seq[Expression]): LogicalPlan = {
    require((args.length == 7 || args.length == 8) && args.forall(_.foldable),
      "usage: graft_fetch_quantile(path, user_id, event_type, begin_sec, " +
        "end_sec, agg_step, q[, 'disc'|'cont']) with literal arguments")
    val interp = args.length == 8 && modeArg("graft_fetch_quantile", args(7))
    val spark = SparkSession.active
    graft.sources.TsdbStore.fetchQuantile(spark,
        strArg(args(0)), longArg(args(1)), strArg(args(2)),
        longArg(args(3)), longArg(args(4)), longArg(args(5)),
        doubleArg(args(6)), interp)
      .queryExecution.analyzed
  }

  /** Resolve graft_fetch_bulk_quantile(...) — bulk percentiles with the
    * flat alternating (user_id, event_type) tail graft_fetch_bulk uses. */
  private[graft] def fetchBulkQuantilePlan(args: Seq[Expression]): LogicalPlan = {
    // an ODD tail means the last argument is the 'disc'|'cont' mode —
    // it cannot be confused with the alternating (user_id, event_type)
    // pairs, which always come in twos
    val usage =
      "usage: graft_fetch_bulk_quantile(path, begin_sec, end_sec, agg_step, " +
        "q, user_id, event_type[, user_id, event_type ...][, 'disc'|'cont']) " +
        "with literal arguments"
    require(args.length >= 7 && args.forall(_.foldable), usage)
    val (pairArgs, interp) =
      if ((args.length - 5) % 2 == 1)
        (args.drop(5).dropRight(1),
          modeArg("graft_fetch_bulk_quantile", args.last))
      else (args.drop(5), false)
    require(pairArgs.nonEmpty && pairArgs.length % 2 == 0, usage)
    val series = pairArgs.grouped(2).map {
      case Seq(u, e) => (longArg(u), strArg(e))
    }.toSeq
    val spark = SparkSession.active
    graft.sources.TsdbStore.fetchBulkQuantile(spark,
        strArg(args(0)), series, longArg(args(1)), longArg(args(2)),
        longArg(args(3)), doubleArg(args(4)), interp)
      .queryExecution.analyzed
  }

  /** Resolve graft_fetch_fleet_quantile(...) — fleet percentiles in SQL. */
  private[graft] def fetchFleetQuantilePlan(args: Seq[Expression]): LogicalPlan = {
    require((args.length == 6 || args.length == 7) && args.forall(_.foldable),
      "usage: graft_fetch_fleet_quantile(path, event_type, begin_sec, " +
        "end_sec, agg_step, q[, 'disc'|'cont']) with literal arguments")
    val spark = SparkSession.active
    graft.sources.TsdbStore.fetchFleetQuantile(spark,
        strArg(args(0)), strArg(args(1)), longArg(args(2)), longArg(args(3)),
        longArg(args(4)), doubleArg(args(5)),
        args.length == 7 && modeArg("graft_fetch_fleet_quantile", args(6)))
      .queryExecution.analyzed
  }

  /** Resolve graft_fetch(...) literal arguments to the fetch plan. */
  private[graft] def fetchPlan(args: Seq[Expression]): LogicalPlan = {
    require(args.length >= 5 && args.length <= 7 && args.forall(_.foldable),
      "usage: graft_fetch(path, user_id, event_type, begin_sec, end_sec" +
        "[, agg_step[, cf]]) with literal arguments")
    val spark = SparkSession.active
    graft.sources.TsdbStore.fetch(spark,
        strArg(args(0)), longArg(args(1)), strArg(args(2)),
        longArg(args(3)), longArg(args(4)),
        aggStep = if (args.length >= 6) longArg(args(5)) else 0L,
        cf = if (args.length >= 7) strArg(args(6)) else "average")
      .queryExecution.analyzed
  }

  /** Resolve graft_fetch_bulk(...) literal arguments to the bulk fetch
    * plan: fixed head (path, begin, end, agg_step, cf) + a flat
    * alternating (user_id, event_type) tail — SQL has no tuple-array
    * literal worth forcing on callers, and a bulk request list is
    * request-sized by contract. */
  private[graft] def fetchBulkPlan(args: Seq[Expression]): LogicalPlan = {
    require(args.length >= 7 && (args.length - 5) % 2 == 0 &&
        args.forall(_.foldable),
      "usage: graft_fetch_bulk(path, begin_sec, end_sec, agg_step, cf, " +
        "user_id, event_type[, user_id, event_type ...]) with literal arguments")
    val series = args.drop(5).grouped(2).map {
      case Seq(u, e) => (longArg(u), strArg(e))
    }.toSeq
    graft.sources.TsdbStore.fetchBulk(SparkSession.active,
        strArg(args(0)), series, longArg(args(1)), longArg(args(2)),
        aggStep = longArg(args(3)), cf = strArg(args(4)))
      .queryExecution.analyzed
  }

  /** Resolve graft_fetch_bulk_filled(...) — [[fetchBulkPlan]]'s flat
    * alternating series tail over the dense-grid bulk fetch. */
  private[graft] def fetchBulkFilledPlan(args: Seq[Expression]): LogicalPlan = {
    require(args.length >= 7 && (args.length - 5) % 2 == 0 &&
        args.forall(_.foldable),
      "usage: graft_fetch_bulk_filled(path, begin_sec, end_sec, agg_step, " +
        "cf, user_id, event_type[, user_id, event_type ...]) with literal arguments")
    val series = args.drop(5).grouped(2).map {
      case Seq(u, e) => (longArg(u), strArg(e))
    }.toSeq
    graft.sources.TsdbStore.fetchBulkFilled(SparkSession.active,
        strArg(args(0)), series, longArg(args(1)), longArg(args(2)),
        aggStep = longArg(args(3)), cf = strArg(args(4)))
      .queryExecution.analyzed
  }

  /** Resolve graft_fetch_filled(...) literal arguments to the dense-grid
    * fetch plan (one row per step slot, absent slots NULL or
    * interpolated). */
  private[graft] def fetchFilledPlan(args: Seq[Expression]): LogicalPlan = {
    require(args.length >= 6 && args.length <= 8 && args.forall(_.foldable),
      "usage: graft_fetch_filled(path, user_id, event_type, begin_sec, " +
        "end_sec, agg_step[, cf[, fill]]) with literal arguments")
    graft.sources.TsdbStore.fetchFilled(SparkSession.active,
        strArg(args(0)), longArg(args(1)), strArg(args(2)),
        longArg(args(3)), longArg(args(4)), aggStep = longArg(args(5)),
        cf = if (args.length >= 7) strArg(args(6)) else "average",
        fill = if (args.length >= 8) strArg(args(7)) else "null")
      .queryExecution.analyzed
  }
}
