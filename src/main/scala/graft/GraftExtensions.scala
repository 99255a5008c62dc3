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
    def tvf(name: String, plan: GraftExtensions.TvfArgs => LogicalPlan): Unit =
      ext.injectTableFunction((
        FunctionIdentifier(name),
        new ExpressionInfo("graft.sources.TsdbStore", name),
        (args: Seq[Expression]) => plan(new GraftExtensions.TvfArgs(name, args))))
    tvf("graft_fetch", GraftExtensions.fetchPlan)
    // entry point 3 (POST /bulk) for SQL-only consumers: many series in
    // one pruned scan —
    //   SELECT * FROM graft_fetch_bulk('<store>', begin, end, agg_step,
    //                                  cf, uid1, 'type1'[, uid2, 'type2' …])
    tvf("graft_fetch_bulk", GraftExtensions.fetchBulkPlan)
    // the REST-parity dense grid for SQL-only consumers —
    //   SELECT * FROM graft_fetch_filled('<store>', user, 'type', begin,
    //                                    end, agg_step[, cf[, fill]])
    tvf("graft_fetch_filled", GraftExtensions.fetchFilledPlan)
    // bulk dense grids — the last Scala-only read surface:
    //   SELECT * FROM graft_fetch_bulk_filled('<store>', begin, end,
    //     agg_step, cf, uid1, 'type1'[, uid2, 'type2' …])
    tvf("graft_fetch_bulk_filled", GraftExtensions.fetchBulkFilledPlan)
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
    tvf("graft_fetch_quantile", GraftExtensions.fetchQuantilePlan)
    // bulk percentiles — the alternating series tail, like graft_fetch_bulk:
    //   SELECT * FROM graft_fetch_bulk_quantile('<store>', begin, end,
    //     agg_step, q, uid1, 'type1'[, uid2, 'type2' …])
    tvf("graft_fetch_bulk_quantile", GraftExtensions.fetchBulkQuantilePlan)
    // fleet-wide percentiles —
    //   SELECT * FROM graft_fetch_fleet_quantile('<store>', 'type',
    //                                            begin, end, agg_step, q)
    tvf("graft_fetch_fleet_quantile", GraftExtensions.fetchFleetQuantilePlan)
  }
}

object GraftExtensions {
  /** One table-function call's arguments, read in the name of the
    * function `fn` that was called, so every error names that call. */
  private[graft] final class TvfArgs(fn: String, args: Seq[Expression]) {
    def length: Int = args.length

    /** The call's shape check: `ok`, and every argument a literal (the
      * plan is built at resolution time). */
    def check(ok: Boolean, shape: String): Unit =
      require(ok && args.forall(_.foldable), s"usage: $fn($shape) with literal arguments")

    private def eval(i: Int): Any =
      args(i).eval(org.apache.spark.sql.catalyst.InternalRow.empty)

    def str(i: Int): String = String.valueOf(eval(i))

    def long(i: Int): Long = eval(i) match {
      case l: java.lang.Long => l
      case n: java.lang.Integer => n.toLong
      case other => throw new IllegalArgumentException(
        s"$fn: expected an integer literal, got $other")
    }

    def double(i: Int): Double = eval(i) match {
      case d: java.lang.Double => d
      case f: java.lang.Float => f.toDouble
      case dec: org.apache.spark.sql.types.Decimal => dec.toDouble
      case l: java.lang.Long => l.toDouble
      case n: java.lang.Integer => n.toDouble
      case other => throw new IllegalArgumentException(
        s"$fn: expected a numeric literal, got $other")
    }

    /** 'disc' (nearest-rank, the default) vs 'cont' (interpolated). */
    def mode(i: Int): Boolean = str(i) match {
      case "cont" => true
      case "disc" => false
      case other => throw new IllegalArgumentException(
        s"$fn: mode must be 'disc' or 'cont', got '$other'")
    }

    /** The bulk functions' flat alternating (user_id, event_type) tail
      * in arguments [from, until) — SQL has no tuple-array literal worth
      * forcing on callers, and a bulk request list is request-sized by
      * contract. */
    def series(from: Int, until: Int): Seq[(Long, String)] =
      (from until until by 2).map(i => (long(i), str(i + 1)))
  }

  /** Resolve graft_fetch_quantile(...) — the quantile column family's
    * read path for SQL-only consumers (same plan as the Scala API). */
  private[graft] def fetchQuantilePlan(a: TvfArgs): LogicalPlan = {
    a.check(a.length == 7 || a.length == 8,
      "path, user_id, event_type, begin_sec, end_sec, agg_step, q[, 'disc'|'cont']")
    val interp = a.length == 8 && a.mode(7)
    graft.sources.TsdbStore.fetchQuantile(SparkSession.active,
        a.str(0), a.long(1), a.str(2), a.long(3), a.long(4), a.long(5), a.double(6), interp)
      .queryExecution.analyzed
  }

  /** Resolve graft_fetch_bulk_quantile(...) — bulk percentiles with the
    * flat alternating (user_id, event_type) tail graft_fetch_bulk uses. */
  private[graft] def fetchBulkQuantilePlan(a: TvfArgs): LogicalPlan = {
    a.check(a.length >= 7, "path, begin_sec, end_sec, agg_step, q, user_id, " +
      "event_type[, user_id, event_type ...][, 'disc'|'cont']")
    // an ODD tail means the last argument is the 'disc'|'cont' mode —
    // it cannot be confused with the alternating (user_id, event_type)
    // pairs, which always come in twos
    val moded = (a.length - 5) % 2 == 1
    graft.sources.TsdbStore.fetchBulkQuantile(SparkSession.active,
        a.str(0), a.series(5, if (moded) a.length - 1 else a.length),
        a.long(1), a.long(2), a.long(3), a.double(4), moded && a.mode(a.length - 1))
      .queryExecution.analyzed
  }

  /** Resolve graft_fetch_fleet_quantile(...) — fleet percentiles in SQL. */
  private[graft] def fetchFleetQuantilePlan(a: TvfArgs): LogicalPlan = {
    a.check(a.length == 6 || a.length == 7,
      "path, event_type, begin_sec, end_sec, agg_step, q[, 'disc'|'cont']")
    graft.sources.TsdbStore.fetchFleetQuantile(SparkSession.active,
        a.str(0), a.str(1), a.long(2), a.long(3), a.long(4), a.double(5),
        a.length == 7 && a.mode(6))
      .queryExecution.analyzed
  }

  /** Resolve graft_fetch(...) literal arguments to the fetch plan. */
  private[graft] def fetchPlan(a: TvfArgs): LogicalPlan = {
    a.check(a.length >= 5 && a.length <= 7,
      "path, user_id, event_type, begin_sec, end_sec[, agg_step[, cf]]")
    graft.sources.TsdbStore.fetch(SparkSession.active,
        a.str(0), a.long(1), a.str(2), a.long(3), a.long(4),
        aggStep = if (a.length >= 6) a.long(5) else 0L,
        cf = if (a.length >= 7) a.str(6) else "average")
      .queryExecution.analyzed
  }

  /** Resolve graft_fetch_bulk(...) literal arguments to the bulk fetch
    * plan: fixed head (path, begin, end, agg_step, cf) + the flat
    * alternating series tail ([[TvfArgs.series]]). */
  private[graft] def fetchBulkPlan(a: TvfArgs): LogicalPlan = {
    a.check(a.length >= 7 && (a.length - 5) % 2 == 0, "path, begin_sec, end_sec, " +
      "agg_step, cf, user_id, event_type[, user_id, event_type ...]")
    graft.sources.TsdbStore.fetchBulk(SparkSession.active,
        a.str(0), a.series(5, a.length), a.long(1), a.long(2),
        aggStep = a.long(3), cf = a.str(4))
      .queryExecution.analyzed
  }

  /** Resolve graft_fetch_bulk_filled(...) — [[fetchBulkPlan]]'s flat
    * alternating series tail over the dense-grid bulk fetch. */
  private[graft] def fetchBulkFilledPlan(a: TvfArgs): LogicalPlan = {
    a.check(a.length >= 7 && (a.length - 5) % 2 == 0, "path, begin_sec, end_sec, " +
      "agg_step, cf, user_id, event_type[, user_id, event_type ...]")
    graft.sources.TsdbStore.fetchBulkFilled(SparkSession.active,
        a.str(0), a.series(5, a.length), a.long(1), a.long(2),
        aggStep = a.long(3), cf = a.str(4))
      .queryExecution.analyzed
  }

  /** Resolve graft_fetch_filled(...) literal arguments to the dense-grid
    * fetch plan (one row per step slot, absent slots NULL or
    * interpolated). */
  private[graft] def fetchFilledPlan(a: TvfArgs): LogicalPlan = {
    a.check(a.length >= 6 && a.length <= 8,
      "path, user_id, event_type, begin_sec, end_sec, agg_step[, cf[, fill]]")
    graft.sources.TsdbStore.fetchFilled(SparkSession.active,
        a.str(0), a.long(1), a.str(2), a.long(3), a.long(4), aggStep = a.long(5),
        cf = if (a.length >= 7) a.str(6) else "average",
        fill = if (a.length >= 8) a.str(7) else "null")
      .queryExecution.analyzed
  }
}
