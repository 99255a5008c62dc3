package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, Join, LogicalPlan, Project, Union, Window}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType}

import graft.sources.TsdbStore
import graft.sources.TsdbStore.StoreMeta

/** Materialized-rollup substitution — the aggregate-navigation rewrite
  * of classical OLAP servers (and the reason the reference maintains
  * its aggregate cascade at all [pub: tsdb/aggregator.py precomputed
  * multi-res aggregates — unverified, SURVEY.md §0]), done the Catalyst
  * way: an optimizer `Rule[LogicalPlan]` that recognizes an ad-hoc
  * slot aggregation over a [[TsdbStore]] BASE table
  *
  *   base.groupBy(user_id?, event_type?, (ts_us div S·10⁶)·S?)
  *       .agg(…)
  *
  * and answers it from one of the store's materialized cascade
  * families at the COARSEST level T that serves it. The rule is one
  * front end and three converters.
  *
  * The front end ([[walk]] + [[matchScan]] + [[chooseLevel]]) proves,
  * once for every path:
  *  - `spark.graft.rollup.rewrite` is "true" (default off — ingest and
  *    cascade-maintenance jobs must never read the table they are
  *    writing; [[TsdbStore]] additionally never enables it);
  *  - the only plan between Aggregate and scan is column pruning,
  *    filters and at most one INNER series-key join to a UNIQUE dim
  *    (or, for the rate path, the canonical lag window);
  *  - the scan is the LIVE base of a `_LAYOUT`-stamped store (rename
  *    `<root>/base` or a manifest snapshot);
  *  - every filter conjunct either touches series-identity columns
  *    only (they transfer to the cascade verbatim) or is a half-open
  *    `ts_us` bound; anything else is left to the converter, and the
  *    value and quantile converters accept nothing else;
  *  - grouping keys, matched by exprId, are a subset of {user_id,
  *    event_type, one slot step S} plus dim-side keys;
  *  - T divides every slot step the query evaluates, the family's
  *    table exists at T, the range fits T (the value path needs only
  *    a non-empty T-aligned interior and SPLITS unaligned bounds into
  *    raw boundary pieces; the quantile and rate paths need T-aligned
  *    bounds), and the size gate finds the raw scan large enough to
  *    repay the rewrite.
  *
  * The converters each keep only their own leaves:
  *  - value (`agg_T`): the cascade row (n, sum_cents, min_cents,
  *    max_cents, first, last) is an exact monoid image of the raw rows
  *    it covers, so count ⇒ sum(n), sum ⇒ sum(sum_cents), min/max ⇒
  *    min/max, avg ⇒ sum/n, min_by/max_by over the series order ⇒ the
  *    stored endpoint structs; count(DISTINCT grain column) and
  *    approx_count_distinct re-aggregate exactly (one cascade row per
  *    grain tuple; HLL++ is set-idempotent);
  *  - quantile (`quant_T`): percentile_disc / percentile_cont read off
  *    the bottom-k buffers, gated at optimize time on the cells being
  *    below K samples so the read is exact;
  *  - rate (`rate_T`): the heartbeat-validated wrap-corrected delta
  *    aggregate re-sums the stored per-cell delta sums.
  *
  * When T == S with the full grain grouped, the aggregation disappears
  * entirely (a Project over the cascade, ZERO shuffle). Substituted
  * outputs keep the original exprIds, so parent operators (HAVING
  * filters, Sort+Limit top-k) are untouched and compose. At 100 TB this
  * is the difference between re-scanning raw samples and reading
  * ≤ |series|·(day/T) cascade rows. PlanAuditSpec pins the rewrite's
  * plan shape; RollupSpec, QuantCascadeSpec and RollupFuzzSpec pin
  * identical results with the rule on and off.
  */
object RollupSubstitution {
  /** Count of optimize-time gate JOBS actually executed (dim
    * uniqueness, sub-K counts) — RollupSpec pins cache hits (a
    * repeated query must not move this) and invalidation (a store
    * mutation must). */
  private[graft] val gateJobsRun = new java.util.concurrent.atomic.AtomicLong(0L)
}

case class RollupSubstitution(session: SparkSession) extends Rule[LogicalPlan] {

  private val FlagKey = "spark.graft.rollup.rewrite"
  /** Skip the rewrite unless the raw relation is at least this many
    * times larger than the chosen cascade table — at ≤ 1× the cascade
    * is not smaller than raw (a 1-sample-per-cell store) and the
    * rewrite can only add cost. Size is listing-bytes: the raw side's
    * is already computed by its own relation, the cascade side's is
    * one content summary of a |series|·(day/T)-row directory. */
  private val RatioKey = "spark.graft.rollup.minSizeRatio"
  private val FloorKey = "spark.graft.rollup.sizeGateFloorBytes"

  /** The store's optimize-time support state — layout, per-table
    * existence and schemas, and the data-dependent GATE results (dim
    * uniqueness, sub-K counts, the manifest snapshot) — from the
    * store-metadata cache every fetch shares ([[TsdbStore.storeMeta]]:
    * keyed by the `_LAYOUT` modification time and the `_DATA_STAMP`
    * value, so upsert / compaction / retention invalidate exactly the
    * answers they can change). Metadata only: file LISTINGS are never
    * cached. A missing layout stamp (not a store)
    * returns None. An absent content stamp caches nothing — stores
    * written by anything that doesn't maintain the stamp stay correct,
    * just uncached: every optimize re-infers their cascade schemas. */
  private def storeInfo(store: String): Option[StoreMeta] =
    Some(TsdbStore.storeMeta(session, store)).filter(_.layoutMtime >= 0L)

  /** Serve a gate-job result from the store's content-stamped cache,
    * or run it. `keyOpt = None` (an input whose content can't be
    * fingerprinted) and an absent content stamp both degrade to
    * running the job — never to a stale answer. */
  private def cachedGate[T](info: StoreMeta, keyOpt: Option[String])(run: => T): T = {
    def runCounted: T = {
      RollupSubstitution.gateJobsRun.incrementAndGet()
      run
    }
    keyOpt match {
      case Some(key) => info.gate(key)(runCounted)
      case None => runCounted
    }
  }

  /** Content fingerprint of a dim-side subtree: the canonicalized
    * structure plus every leaf scan's CURRENT file listing (writers
    * emit uuid-named files, so the path set identifies content). None
    * if any leaf is not a file scan — such plans are not cacheable.
    * Two hardenings (ADVICE r11):
    *  - a subtree carrying a SUBQUERY expression (scalar/IN/EXISTS
    *    over ANOTHER table) is never cacheable — the other table's
    *    content is invisible to this subtree's leaf listing and the
    *    store stamp, so a cached dimIsUnique/maxN verdict could go
    *    stale when only that table changes;
    *  - the key is a SHA-256 over the FULL untruncated plan string
    *    plus the full sorted path list — the previous 32-bit
    *    `hashCode` of the path seq and the maxToStringFields-truncated
    *    `toString` could in principle collide two distinct dim plans
    *    onto one gate-cache entry. */
  private def planSignature(p: LogicalPlan): Option[String] = {
    if (p.exists(_.expressions.exists(_.exists(
        _.isInstanceOf[PlanExpression[_]])))) return None
    val leafSigs = p.collectLeaves().map {
      case lr: LogicalRelation => lr.relation match {
        case fsr: HadoopFsRelation =>
          val files = fsr.location.inputFiles.sorted
          Some(s"${fsr.location.rootPaths.mkString(",")}#${files.length}" +
            s"#${files.mkString("|")}#${fsr.location.sizeInBytes}")
        case _ => None
      }
      case _ => None
    }
    if (leafSigs.exists(_.isEmpty)) None
    else {
      val full = p.canonicalized.treeString(
        verbose = true, addSuffix = false, maxFields = Int.MaxValue,
        printOperatorId = false) + "@" + leafSigs.flatten.mkString(";")
      val md = java.security.MessageDigest.getInstance("SHA-256")
      Some(md.digest(full.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        .map("%02x".format(_)).mkString)
    }
  }

  /** The live snapshot of a MANIFEST-layout store, cached under the
    * content stamp (every TsdbStore mutator bumps `_DATA_STAMP`, which
    * retires the cached store metadata — so a repeated dashboard query
    * pays one manifest read per store mutation, not per optimize). A
    * store without a stamp never caches — correct, just uncached. */
  private def manifestSnapshot(info: StoreMeta, store: String)
      : graft.sources.StoreManifest.Snapshot = {
    def load() = graft.sources.StoreManifest.load(
      new org.apache.hadoop.fs.Path(store)
        .getFileSystem(session.sparkContext.hadoopConfiguration), store)
    info.gate("manifest|snapshot")(load())
  }

  /** On a manifest store, the rewrite is sound only against the LIVE
    * snapshot: the base relation's partition directories must be
    * EXACTLY the live snapshot's base entry set. A TIME-TRAVEL read
    * ([[TsdbStore.readTableAt]] against a retained older snapshot)
    * carries the same `_segs/…` path shape but a different directory
    * set — substituting the live cascade under it would silently
    * answer from the wrong snapshot (and a stats-pruned fetch
    * relation is likewise a strict subset). Set equality is the whole
    * test: when an old snapshot's base set coincides with the live
    * one the data is identical and substitution stays sound. Rename
    * layout reads pass trivially (one canonical `<root>/base` dir). */
  private def baseScanIsLive(info: StoreMeta, store: String,
                             rel: LogicalRelation): Boolean =
    info.layout.commit != "manifest" || {
      val scanned = rel.relation match {
        case f: HadoopFsRelation => f.location.rootPaths.map(_.toString).toSet
        case _ => return false
      }
      val fs = new org.apache.hadoop.fs.Path(store)
        .getFileSystem(session.sparkContext.hadoopConfiguration)
      val live = manifestSnapshot(info, store).entries.collect {
        case (("base", _), r) =>
          fs.makeQualified(new org.apache.hadoop.fs.Path(s"$store/$r")).toString
      }.toSet
      scanned == live
    }

  private def tableExistsCached(info: StoreMeta, store: String, table: String): Boolean =
    if (info.layout.commit == "manifest")
      manifestSnapshot(info, store).entries.keys.exists(_._1 == table)
    else info.exists(table) {
      val p = new org.apache.hadoop.fs.Path(s"$store/$table")
      p.getFileSystem(session.sparkContext.hadoopConfiguration).exists(p)
    }

  /** Fresh analyzed scan of a store table, with the (stable) schema
    * served from the store-metadata cache — skips per-query schema
    * inference, keeps the per-query file listing. On a manifest store
    * the scan resolves through the LIVE snapshot
    * ([[TsdbStore.readSnapshotTable]] — the same single-relation
    * explicit-PartitionSpec read every fetch uses), so the substituted
    * cascade is read under the same commit protocol as the base scan
    * it replaces; on the rename layout it is [[TsdbStore.readTable]].
    * Snapshot skew note: the base relation was resolved when the query
    * was BUILT, the cascade here at optimize time — under the store's
    * single-writer contract a mutation between the two is the same
    * read-skew class the rename layout's table-at-a-time swaps expose,
    * and a dashboard re-running the query closes it. */
  private def tableScan(info: StoreMeta, store: String, table: String)
      : org.apache.spark.sql.DataFrame =
    if (info.layout.commit == "manifest") {
      val snap = manifestSnapshot(info, store)
      val dataSchema = info.schema(table) {
        val rel = snap.entries.collectFirst {
          case ((t, _), r) if t == table => r
        }.getOrElse(sys.error(s"no live entry for $table at $store"))
        session.read.parquet(s"$store/$rel").schema
      }
      TsdbStore.readSnapshotTable(session, store, info.layout, snap,
        table, Some(dataSchema))
    } else TsdbStore.readTable(session, store, info, table)

  /** The stats-based skip gate: proceed only when the raw side out-
    * sizes the cascade by the configured ratio (default 1.0 — decline
    * only the genuinely pathological cascade-not-smaller stores, e.g.
    * one sample per cell, where the rewrite can only add cost; raise
    * the ratio to demand a margin, 0 disables). Listing bytes are the
    * signal, and they are only TRUSTWORTHY once per-file parquet
    * overhead is amortized — below the floor (default 16 MB) a
    * 1000-row cascade "outweighs" a 1000-row base on metadata alone
    * while both plans are trivially cheap, so the gate stands aside
    * and the rewrite keeps its plan-quality wins (pruning, no
    * shuffle, no window sort). */
  private def sizeGateOk(info: StoreMeta, rel: LogicalRelation,
                         store: String, table: String): Boolean = {
    val ratio = session.conf.get(RatioKey, "1.0").toDouble
    if (ratio <= 0.0) return true
    val baseBytes = rel.relation match {
      case fsr: HadoopFsRelation => fsr.location.sizeInBytes
      case _ => return true
    }
    val floor = session.conf.get(FloorKey, (16L << 20).toString).toLong
    if (baseBytes < floor) return true
    val cascadeBytes =
      if (info.layout.commit == "manifest") {
        // the snapshot's per-entry byte stats ARE the content summary
        // (zero filesystem calls); an entry without stats falls back
        // to one directory summary
        val snap = manifestSnapshot(info, store)
        snap.entries.collect { case (k @ (t, _), relDir) if t == table =>
          snap.stats.get(k).flatMap(_.bytes).getOrElse {
            val p = new org.apache.hadoop.fs.Path(s"$store/$relDir")
            p.getFileSystem(session.sparkContext.hadoopConfiguration)
              .getContentSummary(p).getLength
          }
        }.sum
      } else {
        val p = new org.apache.hadoop.fs.Path(s"$store/$table")
        p.getFileSystem(session.sparkContext.hadoopConfiguration)
          .getContentSummary(p).getLength
      }
    baseBytes.toDouble >= ratio * cascadeBytes.toDouble
  }

  /** The store root when the relation scans the BASE table of an
    * ingested [[TsdbStore]] layout — either the rename layout's
    * `<root>/base` directory (one root path), or a manifest-layout
    * snapshot read, whose root paths are the live dt partition dirs
    * `<root>/_segs/<segId>/base/dt=…` (round 15, VERDICT r14 next #1:
    * without this arm the cascade rewrite silently declined on exactly
    * the object-store layout a 100 TB deployment would use). Every
    * root path must take one of the two shapes and resolve to the SAME
    * `_LAYOUT`-stamped root. */
  private def storeRootOf(rel: LogicalRelation): Option[String] = rel.relation match {
    case fs: HadoopFsRelation if fs.location.rootPaths.nonEmpty =>
      def rootOf(p: org.apache.hadoop.fs.Path): Option[org.apache.hadoop.fs.Path] =
        if (p.getName == "base") Option(p.getParent) // rename layout
        else if (p.getName.startsWith("dt=")) // manifest segment leaf
          Option(p.getParent).filter(_.getName == "base")
            .flatMap(t => Option(t.getParent))
            .flatMap(seg => Option(seg.getParent))
            .filter(_.getName == "_segs")
            .flatMap(segs => Option(segs.getParent))
        else None
      val roots = fs.location.rootPaths.map(rootOf)
      if (roots.exists(_.isEmpty)) None
      else roots.flatten.distinct match {
        case Seq(root) =>
          val hfs = root.getFileSystem(session.sparkContext.hadoopConfiguration)
          if (hfs.exists(new org.apache.hadoop.fs.Path(root, "_LAYOUT")))
            Some(root.toString)
          else None
        case _ => None
      }
    case _ => None
  }

  /** A series-key-preserving dimension join peeled from between the
    * Aggregate and the base scan (VERDICT r7 next #3): `dim` is the
    * untouched dim-side subtree (exprIds preserved), `pairs` the
    * equi-join pairs as (base identity column name, dim attribute),
    * `node` the original Join (for its hint). */
  private case class DimJoin(dim: LogicalPlan,
                             pairs: Seq[(String, Attribute)],
                             node: Join)

  /** Multiplicity gate shared by the value and quantile paths: the dim
    * side must be UNIQUE on its join keys, else a base row could match
    * several dim rows and the cascade's collapsed cells would
    * under-count the fan-out. Runtime check at optimize time, bounded
    * by contract (a metadata sidecar is version-count-sized, not
    * sample-sized) — and CACHED per (content-stamped store, dim
    * fingerprint, key positions), so a dashboard re-firing the same
    * query pays this job once per store mutation, not once per query. */
  private def dimIsUnique(info: StoreMeta, dj: DimJoin): Boolean = {
    val key = planSignature(dj.dim).map { sig =>
      val keyPos = dj.pairs
        .map(p => dj.dim.output.indexWhere(_.exprId == p._2.exprId))
      s"dimUnique|${keyPos.mkString(",")}|$sig"
    }
    cachedGate(info, key) {
      val dimDf = org.apache.spark.sql.graftshim.DatasetBridge
        .ofRows(session, dj.dim)
      val keyCols = dj.pairs.map(p =>
        org.apache.spark.sql.graftshim.ColumnBridge.column(p._2))
      dimDf.groupBy(keyCols: _*)
        .agg(org.apache.spark.sql.functions
          .count(org.apache.spark.sql.functions.lit(1)).as("c"))
        .filter(org.apache.spark.sql.functions.col("c") > 1)
        .limit(1).collect().isEmpty
    }
  }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (!session.conf.get(FlagKey, "false").toBoolean) return plan
    plan.transformUp {
      case agg: Aggregate =>
        walk(agg.child)(scanOrJoin)
          .flatMap(w => matchScan(agg, w.leaf._1, splitConjuncts(w.cond), w.resolve, w.leaf._2))
          .filter(_.rest.isEmpty)
          .flatMap(m => rewriteValue(m).orElse(rewriteQuantile(m)))
          .orElse(rewriteRate(agg))
          .getOrElse(agg)
    }
  }

  /** (ts_us div S·10⁶) · S — the engine's canonical slot quantization
    * (TimeSeriesOps.slotSec). Returns S. */
  private object SlotExpr {
    def unapply(e: Expression): Option[(AttributeReference, Long)] = e match {
      case Multiply(
          IntegralDivide(ts: AttributeReference, Literal(stepUs: Long, LongType), _),
          Literal(stepSec: Long, LongType), _)
          if ts.name == "ts_us" && stepSec > 0 && stepUs == stepSec * 1000000L =>
        Some((ts, stepSec))
      case _ => None
    }
  }

  // ---- the shared front end ------------------------------------------

  /** One Project/Filter walk from an Aggregate's child down to a leaf
    * `leaf` accepts (the base scan, a dim join over it, or the rate
    * path's Window). Projects are column pruning or the grouping pull-
    * out (PullOutGroupingExpressions aliases complex groupings below
    * the Aggregate); each Filter's condition is resolved through the
    * projections BELOW it right away and conjoined. `map` takes an
    * exprId seen above the walk to its leaf-level expression. */
  private case class Walk[L](leaf: L, cond: Option[Expression],
                             map: Map[ExprId, Expression]) {
    def resolve(e: Expression): Expression = e.transform {
      case a: AttributeReference if map.contains(a.exprId) => map(a.exprId)
    }
  }

  private def walk[L](p: LogicalPlan)(
      leaf: PartialFunction[LogicalPlan, Option[Walk[L]]]): Option[Walk[L]] =
    p match {
      case l if leaf.isDefinedAt(l) => leaf(l)
      case Project(projList, child) =>
        walk(child)(leaf).flatMap { w =>
          val entries = projList.map {
            case a: AttributeReference => Some(a.exprId -> w.resolve(a))
            case al: Alias => Some(al.exprId -> w.resolve(al.child))
            case _ => None
          }
          if (entries.contains(None)) None
          else Some(w.copy(map = w.map ++ entries.flatten))
        }
      case Filter(cond, child) =>
        walk(child)(leaf).map { w =>
          val rc = w.resolve(cond)
          w.copy(cond = Some(w.cond.map(And(_, rc)).getOrElse(rc)))
        }
      case _ => None
    }

  private type ScanWalk = Walk[(LogicalRelation, Option[DimJoin])]

  private val scan: PartialFunction[LogicalPlan, Option[ScanWalk]] = {
    case rel: LogicalRelation => Some(Walk((rel, None), None, Map.empty))
  }

  /** [[scan]] or, one level up, an INNER equi-join on series-identity
    * columns only whose one side walks to a store's base scan. The
    * other side is the dim: reused verbatim (its exprIds survive), so
    * dim-side grouping keys and outputs pass through the conversion
    * untouched. A join that doesn't match simply means no rewrite. */
  private val scanOrJoin: PartialFunction[LogicalPlan, Option[ScanWalk]] =
    scan.orElse { case j: Join =>
      def trySide(baseSide: LogicalPlan, dimSide: LogicalPlan): Option[ScanWalk] =
        walk(baseSide)(scan).flatMap { w =>
          val rel = w.leaf._1
          if (storeRootOf(rel).isEmpty) None
          else {
            val identityIds = rel.output
              .filter(a => a.name == "user_id" || a.name == "event_type")
              .map(a => a.exprId -> a.name).toMap
            def pair(b: Expression, d: Expression): Option[(String, Attribute)] =
              (w.resolve(b), d) match {
                case (bb: AttributeReference, dd: Attribute)
                    if identityIds.contains(bb.exprId) && dimSide.outputSet.contains(dd) =>
                  Some(identityIds(bb.exprId) -> dd)
                case _ => None
              }
            val pairs = splitConjuncts(j.condition).map {
              case EqualTo(l, r) => pair(l, r).orElse(pair(r, l)) match {
                case Some(x) => x
                case None => return None
              }
              case _ => return None
            }
            if (pairs.isEmpty) None
            else Some(w.copy(leaf = (rel, Some(DimJoin(dimSide, pairs, j)))))
          }
        }
      if (j.joinType != Inner || j.condition.isEmpty) None
      else trySide(j.left, j.right).orElse(trySide(j.right, j.left))
    }

  private def splitConjuncts(e: Option[Expression]): Seq[Expression] = {
    def split(x: Expression): Seq[Expression] = x match {
      case And(l, r) => split(l) ++ split(r)
      case c => Seq(c)
    }
    e.toSeq.flatMap(split)
  }

  private val BaseCols = Seq("user_id", "event_type", "ts_us", "event_id", "cents")

  /** What the front end proves about one Aggregate: its input is the
    * LIVE base scan `rel` of `store`, reached through column pruning,
    * filters and at most one series-key dim join; `resolve` takes any
    * expression above the scan back to base columns. The filter's
    * conjuncts split into series-identity ones (`series`: user_id /
    * event_type only — they transfer to any cascade table by name),
    * the effective half-open `ts_us` range [lo, hi), and the `rest`
    * each path judges itself (the value and quantile paths accept
    * none). Grouping keys are classified BY EXPRID — the base's
    * user_id, its event_type, one slot step, or a dim-side expression
    * — so a dim column that happens to be called user_id stays a dim
    * key. */
  private case class Match(
      agg: Aggregate, rel: LogicalRelation, store: String, info: StoreMeta,
      resolve: Expression => Expression, ids: Map[String, ExprId],
      series: Seq[Expression], lo: Option[Long], hi: Option[Long],
      rest: Seq[Expression], groupings: Seq[Expression], stepSec: Long,
      hasUid: Boolean, hasEtype: Boolean, dimJoin: Option[DimJoin]) {
    def layout: graft.sources.StoreLayout = info.layout
    def seriesCond: Option[Expression] = series.reduceOption(And)
    def dimIds: AttributeSet =
      dimJoin.map(_.dim.outputSet).getOrElse(AttributeSet.empty)
    /** Whether a resolved expression IS the base column `name`. */
    def is(name: String)(e: Expression): Boolean = e match {
      case a: AttributeReference => a.exprId == ids(name)
      case _ => false
    }
    /** A resolved base grouping key rebased onto the substituted
      * source's user_id / event_type / slot; None for anything else. */
    def baseKey(e: Expression, uid: => Expression, etype: => Expression,
                slot: => Expression): Option[Expression] = e match {
      case _ if is("user_id")(e) => Some(uid)
      case _ if is("event_type")(e) => Some(etype)
      case SlotExpr(ts, _) if is("ts_us")(ts) => Some(slot)
      case _ => None
    }
    /** Every slot step the query evaluates — the grouping's and each
      * count(DISTINCT slot) operand's ("active periods"); the scanned
      * level must divide them all, or a distinct projection over the
      * cascade would conflate cells. A slotless query contributes 0,
      * which every level divides. */
    def slotSteps: Seq[Long] = stepSec +: agg.aggregateExpressions.flatMap(_.collect {
      case AggregateExpression(Count(Seq(c)), Complete, true, None, _) =>
        resolve(c) match {
          case SlotExpr(ts, s) if is("ts_us")(ts) => Some(s)
          case _ => None
        }
    }.flatten)
    /** The empty-grouping aggregate (dim keys aside): over an empty
      * source count(1) = 0 but sum(n) = NULL, so its count coalesces. */
    def global: Boolean = !hasUid && !hasEtype && stepSec == 0L
    /** The T-aligned interior of [lo, hi) in µs: lo rounded up, hi
      * rounded down to multiples of T seconds. */
    def interiorUs(t: Long): (Option[Long], Option[Long]) = {
      val su = t * 1000000L
      (lo.map(l => Math.floorDiv(l + su - 1, su) * su),
        hi.map(h => Math.floorDiv(h, su) * su))
    }
  }

  private def matchScan(agg: Aggregate, rel: LogicalRelation,
                        conjuncts: Seq[Expression],
                        resolve: Expression => Expression,
                        dimJoin: Option[DimJoin]): Option[Match] = {
    val store = storeRootOf(rel) match {
      case Some(s) => s
      case None => return None
    }
    val ids = BaseCols.flatMap(n => rel.output.find(_.name == n).map(n -> _.exprId)).toMap
    if (ids.size != BaseCols.size) return None
    def isTs(e: Expression): Boolean = resolve(e) match {
      case a: AttributeReference => a.exprId == ids("ts_us")
      case _ => false
    }
    // identity conjuncts transfer verbatim — rebased BY NAME, which is
    // sound only once every reference is proven (by exprId) to be the
    // relation's own user_id / event_type; an alias masquerading under
    // those names that resolved to anything else lands in `rest`
    // (ADVICE r6 #2). Half-open ts_us bounds conjoin to [max, min).
    var series = Seq.empty[Expression]
    var lows = Seq.empty[Long]
    var highs = Seq.empty[Long]
    var rest = Seq.empty[Expression]
    conjuncts.foreach {
      case c if c.references.nonEmpty && c.references.forall(a =>
          a.exprId == ids("user_id") || a.exprId == ids("event_type")) =>
        series :+= c
      case GreaterThanOrEqual(t, Literal(l: Long, LongType)) if isTs(t) => lows :+= l
      case LessThanOrEqual(Literal(l: Long, LongType), t) if isTs(t) => lows :+= l
      case LessThan(t, Literal(u: Long, LongType)) if isTs(t) => highs :+= u
      case GreaterThan(Literal(u: Long, LongType), t) if isTs(t) => highs :+= u
      case c => rest :+= c
    }
    val (lo, hi) = (lows.maxOption, highs.minOption)
    // the alignment math floors (Math.floorDiv) while the slot
    // quantization the query itself evaluates (SlotExpr's
    // IntegralDivide) truncates toward zero — the two disagree for
    // negative ts_us, so pre-1970 bounds would mis-assign boundary
    // rows. The store never ingests negative timestamps, so simply
    // leave such plans alone (ADVICE r7 #1)
    if (lo.exists(_ < 0L) || hi.exists(_ < 0L)) return None
    // grouping: ANY subset of {user_id, event_type, slot(S)} plus dim
    // keys — the per-series fetch shape, the fleet-wide rollup, the
    // whole-store profile, the per-series RANGE TOTAL and the global
    // total are all monoid images of the cascade (dropping a key or
    // the slot just re-aggregates more rows into coarser groups)
    val dimIds = dimJoin.map(_.dim.outputSet).getOrElse(AttributeSet.empty)
    val groupings = agg.groupingExpressions.map(resolve)
    var stepSec = 0L
    var hasUid = false; var hasEtype = false
    var baseKeys = 0
    groupings.foreach {
      case a: AttributeReference if a.exprId == ids("user_id") =>
        hasUid = true; baseKeys += 1
      case a: AttributeReference if a.exprId == ids("event_type") =>
        hasEtype = true; baseKeys += 1
      case SlotExpr(ts, s) if isTs(ts) =>
        // two slot expressions at DIFFERENT steps would silently keep
        // only the last and regroup both at it (ADVICE r6 #1):
        // duplicate identity keys are harmless, duplicate steps are not
        if (stepSec != 0L && stepSec != s) return None
        stepSec = s; baseKeys += 1
      case e if e.references.nonEmpty && e.references.subsetOf(dimIds) => ()
      case _ => return None
    }
    if (baseKeys > 3) return None
    val info = storeInfo(store) match {
      case Some(x) => x
      case None => return None
    }
    if (!baseScanIsLive(info, store, rel)) return None
    Some(Match(agg, rel, store, info, resolve, ids, series, lo, hi, rest,
      groupings, stepSec, hasUid, hasEtype, dimJoin))
  }

  /** The coarsest materialized level T for the match: T divides every
    * slot step the query evaluates, every family in `prefixes` is
    * materialized at T (the first serves the read), and the range
    * fits T. With `split` (the value path) the range only needs a
    * NON-EMPTY T-aligned interior — the sub-cell boundary pieces are
    * served from raw, and a range shorter than one coarse cell falls
    * through to a finer level instead of raw; otherwise every bound
    * must be a multiple of T (a sketch merge or a lag window cannot
    * absorb a raw boundary piece). The size gate then decides on the
    * chosen table: a finer level is only LARGER, so a failed gate is a
    * decline, not a fall-through. */
  private def chooseLevel(m: Match, prefixes: Seq[String], split: Boolean): Option[Long] = {
    def fits(t: Long): Boolean = m.interiorUs(t) match {
      case (Some(b), Some(e)) if split => b < e
      case _ if split => true // unbounded on a side: so is the interior
      case _ => (m.lo ++ m.hi).forall(_ % (t * 1000000L) == 0L)
    }
    m.layout.steps
      .filter(s => m.slotSteps.forall(_ % s == 0))
      .sorted.reverse
      .find(s => prefixes.forall(p => tableExistsCached(m.info, m.store, s"$p$s")) &&
        fits(s))
      .filter(t => sizeGateOk(m.info, m.rel, m.store, s"${prefixes.head}$t"))
  }

  /** Fresh analyzed scan of a store table (new exprIds throughout)
    * and its by-name column lookup. */
  private def bind(m: Match, table: String)
      : (LogicalPlan, String => AttributeReference) = {
    val plan = tableScan(m.info, m.store, table).queryExecution.analyzed
    (plan, attOf(plan))
  }

  private def attOf(plan: LogicalPlan)(name: String): AttributeReference =
    plan.output.find(_.name == name).get match { case a: AttributeReference => a }

  /** Series conjuncts rebased onto another table BY NAME (sound: the
    * front end proved each reference is the base's own key column). */
  private def rebase(att: String => Expression)(c: Expression): Expression =
    c.transform { case a: AttributeReference => att(a.name) }

  /** The cascade table filtered to the match: series conjuncts, the
    * T-aligned interior as slot_ts bounds, plus dt partition-prune
    * twins — slot_ts is a data column, and the planner cannot derive
    * the dt partition key from it (the same reason TsdbStore.slotRead
    * filters dt explicitly). */
  private def interior(m: Match, t: Long, cascade: LogicalPlan,
                       att: String => AttributeReference): LogicalPlan = {
    val (b, e) = m.interiorUs(t)
    val slot = att("slot_ts")
    val conds = m.series.map(rebase(att)) ++
      b.map(x => GreaterThanOrEqual(slot, Literal(x / 1000000L, LongType))) ++
      e.map(x => LessThan(slot, Literal(x / 1000000L, LongType))) ++
      cascade.output.find(_.name == "dt").toSeq.flatMap { dt =>
        // exclusive upper bound: derive the dt literal from the LAST
        // INCLUDED second, not the bound itself — a bound exactly on
        // a day/month boundary would otherwise keep one extra
        // partition the slot_ts filter then empties (ADVICE r7 #2)
        b.map(x => GreaterThanOrEqual(dt, TsdbStore.dtLiteral(m.layout, x / 1000000L))) ++
        e.map(x => LessThanOrEqual(dt, TsdbStore.dtLiteral(m.layout, (x - 1L) / 1000000L)))
      }
    conds.reduceOption(And).map(Filter(_, cascade)).getOrElse(cascade)
  }

  private def ae(f: AggregateFunction): Expression =
    AggregateExpression(f, Complete, isDistinct = false)

  /** A T-level slot regrouped to step S: identity when S == T, and
    * never read when slotless (S = 0). */
  private def slotAt(slot: Expression, t: Long, s: Long): Expression =
    if (t == s || s == 0L) slot
    else Multiply(IntegralDivide(slot, Literal(s, LongType)), Literal(s, LongType))

  /** count(1) over raw rows ⇒ the cascade's per-cell count n (exact
    * hit) or sum(n). count(1) is non-nullable and sum(n) over a
    * non-empty group never NULL — KnownNotNull keeps the output's
    * nullability; the global form coalesces the empty source to 0. */
  private def countOf(m: Match, exact: Boolean, n: Expression): Expression =
    KnownNotNull(
      if (exact) n
      else if (m.global) Coalesce(Seq(ae(Sum(n)), Literal(0L, LongType)))
      else ae(Sum(n)))

  /** Every Aggregate output rebuilt over the substituted source (output
    * exprIds `newIds`) leaf by leaf, so derived outputs (CollapseProject
    * folds arithmetic into the Aggregate's list) survive as long as
    * every leaf converts: `aggLeaf` converts an aggregate over the old
    * input, `attLeaf` an old attribute; None from either — or any old
    * reference left over — declines. Outputs keep their exprIds, so
    * parent operators (HAVING, Sort+Limit) compose untouched. */
  private def convertOutputs(agg: Aggregate, newIds: Set[ExprId])(
      aggLeaf: AggregateExpression => Option[Expression],
      attLeaf: AttributeReference => Option[Expression])
      : Option[Seq[NamedExpression]] = {
    var failed = false
    // decline branches return the MATCHED node, never the outer
    // expression: transformDown descends into whatever a rule returns,
    // so re-returning an ancestor would recurse without bound
    // (round-10 StackOverflow). Replacement-side attributes pass
    // through untouched (the exprId guards).
    def convert(e: Expression): Expression = e.transform {
      case ag: AggregateExpression
          if ag.references.forall(a => !newIds.contains(a.exprId)) =>
        aggLeaf(ag).getOrElse { failed = true; ag }
      case a: AttributeReference if !newIds.contains(a.exprId) =>
        attLeaf(a).getOrElse { failed = true; a }
    }
    val outs = agg.aggregateExpressions.map {
      case a: AttributeReference => Alias(convert(a), a.name)(exprId = a.exprId)
      case al: Alias => Alias(convert(al.child), al.name)(exprId = al.exprId)
      case other => failed = true; other
    }
    if (failed || outs.exists(_.references.exists(a => !newIds.contains(a.exprId)))) None
    else Some(outs)
  }

  /** Exact hit = cascade rows ARE the answer rows: a pure Project.
    * Otherwise re-aggregate by the original keys in order, base keys
    * rebased, dim keys verbatim (their subtree rode along). */
  private def regroup(m: Match, exact: Boolean, outs: Seq[NamedExpression],
                      child: LogicalPlan, uid: Expression, etype: Expression,
                      slot: Expression): LogicalPlan =
    if (exact) Project(outs, child)
    else Aggregate(m.groupings.map(g => m.baseKey(g, uid, etype, slot).getOrElse(g)).distinct,
      outs, child)

  // ---- value path: agg_T --------------------------------------------

  private def rewriteValue(m: Match): Option[LogicalPlan] = {
    val agg = m.agg
    val dimIds = m.dimIds
    // aggregates REFERENCING the dim side survive the rewrite only
    // when they are multiplicity-insensitive: the cascade collapses
    // each (series, T-slot) cell to ONE row, so per-cell repetition of
    // the (unique-join) dim value is lost — count(DISTINCT dim) /
    // min(dim) / max(dim) see the same SET either way, while
    // sum/avg/count over dim values would silently change. Their
    // presence also forces the re-aggregating path (a surviving
    // AggregateExpression cannot live in the exact path's Project).
    var hasDimAgg = false
    val dimAggBad = agg.aggregateExpressions.exists(_.exists {
      case ag: AggregateExpression if ag.references.exists(dimIds.contains) =>
        hasDimAgg = true
        !(ag.references.subsetOf(dimIds) && (ag.aggregateFunction match {
          case _: Count => ag.isDistinct
          case _: Min | _: Max => !ag.isDistinct
          case _ => false
        }))
      case _ => false
    })
    if (dimAggBad) return None
    val t = chooseLevel(m, Seq("agg_"), split = true) match {
      case Some(x) => x
      case None => return None
    }
    // an UNALIGNED bound splits into the largest T-aligned INTERIOR
    // (served from the cascade) plus a sub-cell BOUNDARY piece (served
    // from ≤ a partition's worth of raw rows) unioned as monoid tuples
    // under one re-aggregation — the shape arbitrary now()-anchored
    // dashboard ranges actually hit. Each piece is nonempty only when
    // its bound is unaligned.
    val stepUs = t * 1000000L
    val (bupUs, edownUs) = m.interiorUs(t)
    val leftPiece = for { l <- m.lo; b <- bupUs if l < b } yield (l, b)
    val rightPiece = for { h <- m.hi; e <- edownUs if e < h } yield (e, h)
    val pieces = leftPiece.toSeq ++ rightPiece.toSeq

    val (cascade, att) = bind(m, s"agg_$t")
    val (uid, etype, slot) = (att("user_id"), att("event_type"), att("slot_ts"))
    val (nC, sumC, minC, maxC) =
      (att("n"), att("sum_cents"), att("min_cents"), att("max_cents"))
    // M4 endpoint pair (round 10): first/last = lexicographic struct
    // min/max of (ts_us, event_id, cents) per cell — present on stores
    // ingested since the cascade grew the columns; a query using the
    // min_by/max_by endpoint shape against an older store declines
    val usesEndpoint = agg.aggregateExpressions.exists(_.exists {
      case AggregateExpression(_: MinBy | _: MaxBy, _, _, _, _) => true
      case _ => false
    })
    val firstCOpt = cascade.output.collectFirst {
      case a: AttributeReference if a.name == "first" => a }
    val lastCOpt = cascade.output.collectFirst {
      case a: AttributeReference if a.name == "last" => a }
    if (usesEndpoint && (firstCOpt.isEmpty || lastCOpt.isEmpty)) return None
    val inner = interior(m, t, cascade, att)

    // a boundary piece as a union branch: raw rows of [loUs, hiUs)
    // mapped to the cascade's monoid-tuple shape (n=1, cents³). One
    // branch per piece — plain per-branch conjuncts keep the dt
    // partition-filter extraction live, where an OR across pieces
    // would defeat it.
    def rawPiece(loUs: Long, hiUs: Long): LogicalPlan = {
      val (base, batt) = bind(m, "base")
      val (bu, be, bts, bc) =
        (batt("user_id"), batt("event_type"), batt("ts_us"), batt("cents"))
      def rowStruct: Expression = CreateNamedStruct(Seq(
        Literal("ts_us"), bts, Literal("event_id"), batt("event_id"),
        Literal("cents"), bc))
      val tsB: Seq[Expression] = Seq(
        GreaterThanOrEqual(bts, Literal(loUs, LongType)),
        LessThan(bts, Literal(hiUs, LongType)))
      val dtB: Seq[Expression] = base.output.find(_.name == "dt").toSeq.flatMap { d =>
        Seq(GreaterThanOrEqual(d, TsdbStore.dtLiteral(m.layout, Math.floorDiv(loUs, 1000000L))),
          LessThanOrEqual(d, TsdbStore.dtLiteral(m.layout, Math.floorDiv(hiUs - 1, 1000000L))))
      }
      val slotRaw = Multiply(
        IntegralDivide(bts, Literal(stepUs, LongType)), Literal(t, LongType))
      Project(Seq(
          Alias(bu, "user_id")(), Alias(be, "event_type")(),
          Alias(slotRaw, "slot_ts")(),
          Alias(Literal(1L, LongType), "n")(),
          Alias(bc, "sum_cents")(), Alias(bc, "min_cents")(),
          Alias(bc, "max_cents")()) ++
          (if (usesEndpoint)
             Seq(Alias(rowStruct, "first")(), Alias(rowStruct, "last")())
           else Nil),
        Filter((m.series.map(rebase(batt)) ++ tsB ++ dtB).reduce(And), base))
    }

    // source of the re-aggregation: the filtered cascade alone (the
    // aligned fast path — exact hits stay a pure Project), or the
    // cascade interior unioned with the boundary pieces
    val (child2a, uidR, etypeR, slotR, nR, sumR, minR, maxR, firstR, lastR) =
      if (pieces.isEmpty)
        (inner: LogicalPlan, uid: Attribute, etype: Attribute,
          slot: Attribute, nC: Expression, sumC: Expression,
          minC: Expression, maxC: Expression,
          firstCOpt: Option[Expression], lastCOpt: Option[Expression])
      else {
        val branch0 = Project(
          Seq(uid, etype, slot, nC, sumC, minC, maxC) ++
            (if (usesEndpoint) Seq(firstCOpt.get, lastCOpt.get) else Nil),
          inner)
        val u = Union(branch0 +: pieces.map { case (l, h) => rawPiece(l, h) })
        val out = u.output
        val (fU, lU) =
          if (usesEndpoint) (Some(out(7): Expression), Some(out(8): Expression))
          else (None, None)
        (u: LogicalPlan, out(0): Attribute, out(1): Attribute,
          out(2): Attribute, out(3): Expression, out(4): Expression,
          out(5): Expression, out(6): Expression, fU, lU)
      }

    // a series-key-preserving dim join rides ALONG the substitution:
    // the (orders-of-magnitude smaller) cascade source rejoins the
    // UNTOUCHED dim subtree on the same keys — correct because every
    // raw row of a cascade cell shares the cell's (user_id,
    // event_type), so the unique-dim inner join matches a cell's rows
    // all-or-nothing and adds the same dim values to each. The
    // broadcast hint, if any, carries over with the join node's hint
    val child2: LogicalPlan = m.dimJoin match {
      case None => child2a
      case Some(dj) =>
        if (!dimIsUnique(m.info, dj)) return None
        val cond2 = dj.pairs.map { case (name, d) =>
          EqualTo(if (name == "user_id") uidR else etypeR, d): Expression
        }.reduce(And)
        Join(child2a, dj.dim, Inner, Some(cond2), dj.node.hint)
    }

    // exact hit = the cascade's own granularity requested with no
    // boundary pieces. A DISTINCT (or approx-distinct) aggregate
    // always re-aggregates — its replacement is itself an
    // AggregateExpression, which a pure Project can't host; so does a
    // (multiplicity-insensitive) dim-side aggregate
    val hasDistinct = agg.aggregateExpressions.exists(_.exists {
      case ag: AggregateExpression =>
        ag.isDistinct || ag.aggregateFunction.isInstanceOf[HyperLogLogPlusPlus]
      case _ => false
    })
    val exact = pieces.isEmpty && t == m.stepSec && m.hasUid && m.hasEtype &&
      !hasDistinct && !hasDimAgg
    val slot2 = slotAt(slotR, t, m.stepSec)
    def agged(e: Expression, f: Expression => AggregateFunction): Expression =
      if (exact) e else ae(f(e))
    // min_by/max_by(cents, struct(ts_us, event_id)) ⇒ the stored
    // endpoint struct's cents field: the struct is the lexicographic
    // min/max over (ts_us, event_id, cents) and (ts_us, event_id) is
    // UNIQUE, so the struct min/max picks exactly the argmin/argmax
    // row and its value rides along — coarser groups re-minimize over
    // cell structs (a monoid), boundary pieces contribute row structs
    def endCents(e: Expression): Expression = GetStructField(e, 2, Some("cents"))
    // avg = sum/n — the cascade stores both halves of the fraction.
    // Spark's raw Average accumulates a DOUBLE running sum; the
    // substituted form divides the EXACT integer sum — bit-identical
    // whenever the double accumulation is exact (every partial sum an
    // integer below 2^53), and strictly MORE accurate beyond. LEGACY
    // eval mode mirrors Average's own internal division
    def dbl(e: Expression): Expression = Cast(e, DoubleType)
    val isCents = m.is("cents") _
    // the repo-wide series order key struct(ts_us, event_id) — the
    // ordering under which min_by/max_by(cents, ·) IS the cell's
    // first/last sample (M4's endpoint pair)
    def isSeriesOrder(o: Expression): Boolean = o match {
      case cns: CreateNamedStruct => cns.valExprs match {
        case Seq(ts, ei) => m.is("ts_us")(ts) && m.is("event_id")(ei)
        case _ => false
      }
      case _ => false
    }
    def distinctOver(op: Expression): Expression =
      AggregateExpression(Count(Seq(op)), Complete, isDistinct = true)
    val newIds = child2.output.map(_.exprId).toSet
    val outs = convertOutputs(agg, newIds)({
      // count(DISTINCT <grain column>) is exact over the cascade:
      // agg_T holds one row per (user_id, event_type, T-slot), so the
      // grain columns' distinct SETS survive materialization — coarser
      // groups union cells and the final DISTINCT dedups across cells
      // (boundary pieces included): the DAU/WAU dashboard never
      // rescans raw. Any other DISTINCT operand lost its multiplicities
      case AggregateExpression(Count(Seq(c)), Complete, true, None, _) =>
        m.resolve(c) match {
          case r if m.is("user_id")(r) => Some(distinctOver(uidR))
          case r if m.is("event_type")(r) => Some(distinctOver(etypeR))
          case SlotExpr(ts, s) if m.is("ts_us")(ts) && s % t == 0 =>
            Some(distinctOver(slotAt(slotR, t, s)))
          case _ => None
        }
      case AggregateExpression(f, Complete, false, None, _) => f match {
        // non-null literals only: count(NULL) counts zero rows, not
        // sum(n) (ADVICE r6 #3)
        case Count(Seq(Literal(v, _))) if v != null => Some(countOf(m, exact, nR))
        case Sum(c, _) if isCents(m.resolve(c)) => Some(agged(sumR, Sum(_)))
        case Min(c) if isCents(m.resolve(c)) => Some(agged(minR, Min(_)))
        case Max(c) if isCents(m.resolve(c)) => Some(agged(maxR, Max(_)))
        case MinBy(v, o) if isCents(m.resolve(v)) &&
            isSeriesOrder(m.resolve(o)) && firstR.isDefined =>
          Some(endCents(agged(firstR.get, Min(_))))
        case MaxBy(v, o) if isCents(m.resolve(v)) &&
            isSeriesOrder(m.resolve(o)) && lastR.isDefined =>
          Some(endCents(agged(lastR.get, Max(_))))
        case Average(c, _) if isCents(m.resolve(c)) =>
          Some(Divide(dbl(agged(sumR, Sum(_))), dbl(agged(nR, Sum(_))), EvalMode.LEGACY))
        // approx_count_distinct substitutes like count(DISTINCT):
        // HLL++ register updates are SET-idempotent, so feeding each
        // grain tuple once yields bit-identical registers
        case hll @ HyperLogLogPlusPlus(c, _, _, _) => m.resolve(c) match {
          case r if m.is("user_id")(r) => Some(ae(hll.copy(child = uidR)))
          case r if m.is("event_type")(r) => Some(ae(hll.copy(child = etypeR)))
          case _ => None
        }
        case _ => None
      }
      // FILTER clauses, distinct over non-grain operands, multi-arg
      // distincts, non-Complete modes: a half-converted aggregate over
      // cascade rows would silently miscount
      case _ => None
    }, { a =>
      val r = m.resolve(a)
      // a pulled-out grouping alias over DIM columns resolves into the
      // (reused) dim subtree — already part of child2's output
      m.baseKey(r, uidR, etypeR, slot2).orElse(Some(r).filter(x =>
        x.references.nonEmpty && x.references.forall(y => newIds.contains(y.exprId))))
    }) match {
      case Some(o) => o
      case None => return None
    }
    Some(regroup(m, exact, outs, child2, uidR, etypeR, slot2))
  }

  // ---- quantile path: quant_T ---------------------------------------

  /** Quantile-cascade substitution (VERDICT r7 next #2): an ad-hoc
    * EXACT quantile over cents —
    *
    *   base.groupBy(series keys?, slot(S)?)
    *       .agg(percentile_disc(q) WITHIN GROUP (ORDER BY cents))
    *
    * — served from the `quant_T` bottom-k column family when the read
    * is PROVABLY exact. percentile_disc is the SQL-standard nearest
    * rank (element ceil(q·n) of the sorted multiset — the convention
    * [[TsdbStore.fetchQuantile]] reads off the sketch), and below
    * K=512 samples per evaluated cell the stored buffer holds EVERY
    * sample, so the sketch read equals the raw computation value-for-
    * value (cents are integers; stored as exact doubles).
    *
    * The exactness gate runs at OPTIMIZE time against the monoid
    * cascade's per-cell counts: one bounded, dt-pruned aggregate over
    * `agg_T` rows (never raw) computes the max sample count over the
    * query's own evaluated groups, and at ≥ K the rule DECLINES — an
    * estimate must never masquerade as the exact answer the query
    * text wrote.
    *
    * Scope: ts_us bounds must be T-ALIGNED (a raw boundary piece
    * cannot join a sketch merge without re-sketching, which is the raw
    * plan anyway); every aggregate output must be a quantile over
    * cents — percentile_disc (ascending, modern calculation) or
    * percentile_cont / native percentile() (both resolve to
    * [[Percentile]]; a sub-K buffer holds the cell's FULL multiset, so
    * the interpolated read is exact too — [[contRead]] mirrors
    * PercentileBase's arithmetic bit-for-bit). Mixed disc+cont
    * requests share one scan; mixed monoid+quantile aggregates would
    * need a two-table join and block instead. Exact-grain hits (T ==
    * S, full grain, no dim) read the per-slot buffer DIRECTLY — a pure
    * Project over quant_T; coarser grains semilattice-merge the
    * buffers with one re-aggregation.
    *
    * ENRICHED shape (round 9): above a unique dim join the sub-K gate
    * sums n per DIM GROUP (a dim group unions cells, so the whole
    * group must fit one buffer for the merged read to be exact), and
    * the read joins quant_T to the untouched dim subtree and merges
    * per (dim keys, slot). Dim grouping keys must be plain attributes,
    * and the rewrite declines when dim output names would shadow the
    * sketch read's columns. */
  private def rewriteQuantile(m: Match): Option[LogicalPlan] = {
    val agg = m.agg
    // cheap reject: the path only exists for quantile aggregates
    val hasPdisc = agg.aggregateExpressions.exists(_.exists {
      case AggregateExpression(_: PercentileDisc, _, _, _, _) => true
      case AggregateExpression(_: Percentile, _, _, _, _) => true
      case _ => false
    })
    if (!hasPdisc || !m.layout.quantiles) return None
    // dim-side grouping keys pass through verbatim — but only plain
    // ATTRIBUTES (a snapshot column): an arbitrary dim expression
    // would need an exprId mapping through the regrouping, which the
    // leaf-by-leaf conversion below does not build
    val dimKeys = m.groupings.filter(_.references.subsetOf(m.dimIds)).map {
      case a: AttributeReference => a
      case _ => return None
    }.distinctBy(_.exprId)
    // coarsest level whose step every bound aligns to, with BOTH
    // families materialized — quant_T serves the read, agg_T proves
    // exactness
    val t = chooseLevel(m, Seq("quant_", "agg_"), split = false) match {
      case Some(x) => x
      case None => return None
    }
    val (stepSec, hasUid, hasEtype) = (m.stepSec, m.hasUid, m.hasEtype)

    // collect the distinct requested quantiles (quantile, isCont);
    // any other aggregate blocks the rewrite
    var qs = Seq.empty[(Double, Boolean)]
    var bad = false
    agg.aggregateExpressions.foreach(_.foreach {
      case AggregateExpression(pd: PercentileDisc, Complete, false, None, _)
          if !pd.reverse && !pd.legacyCalculation &&
            pd.percentageExpression.foldable =>
        (m.resolve(pd.child), pd.percentageExpression.eval()) match {
          case (a, q: java.lang.Double) if m.is("cents")(a) && q > 0.0 && q <= 1.0 =>
            if (!qs.contains((q.doubleValue, false))) qs :+= ((q.doubleValue, false))
          case _ => bad = true
        }
      case AggregateExpression(pc: Percentile, Complete, false, None, _)
          if !pc.reverse && pc.percentageExpression.foldable &&
            pc.frequencyExpression.foldable &&
            pc.frequencyExpression.eval() == 1L =>
        (m.resolve(pc.child), pc.percentageExpression.eval()) match {
          case (a, q: java.lang.Double) if m.is("cents")(a) && q >= 0.0 && q <= 1.0 =>
            if (!qs.contains((q.doubleValue, true))) qs :+= ((q.doubleValue, true))
          case _ => bad = true
        }
      case _: AggregateExpression => bad = true
      case _ => ()
    })
    if (bad || qs.isEmpty) return None
    // dim-join guards (round 9): the dim side must be join-key-unique
    // (shared multiplicity gate), its output must not shadow the quant
    // table's own column names (the sketch read below binds pri /
    // value / slot_ts / n by NAME), and dim grouping keys must not
    // collide with the base key names the post-merge projection
    // selects — any of these simply declines the rewrite
    m.dimJoin.foreach { dj =>
      if (!dimIsUnique(m.info, dj)) return None
      val reserved = Set("slot_ts", "pri", "value", "n", "sk", "dt")
      if (dj.dim.output.exists(a => reserved.contains(a.name))) return None
      // the generated read/gate aliases are __graft_-prefixed so a
      // plausible dim column (q_0, cnt, …) can't shadow them; a dim
      // column actually named __graft_* declines rather than risking
      // the name-bound repAtt/gate lookups picking the wrong side
      if (dj.dim.output.exists(_.name.startsWith("__graft_"))) return None
      val baseNames = Set("user_id", "event_type", "slot_ts")
      if (dimKeys.exists(a => baseNames.contains(a.name))) return None
      if (dimKeys.map(_.name).distinct.size != dimKeys.size) return None
    }

    import org.apache.spark.sql.{functions => F, Column}
    import org.apache.spark.sql.graftshim.ColumnBridge
    val unresolved = rebase(org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute(_)) _
    val loSec = m.lo.map(_ / 1000000L)
    val hiSec = m.hi.map(_ / 1000000L)
    def dtPruned(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
      def dtCol(sec: Long): Column = ColumnBridge.column(TsdbStore.dtLiteral(m.layout, sec))
      var d = df
      m.seriesCond.foreach(c => d = d.filter(ColumnBridge.column(unresolved(c))))
      loSec.foreach(l => d = d.filter(F.col("slot_ts") >= l)
        .filter(F.col("dt") >= dtCol(l)))
      hiSec.foreach(h => d = d.filter(F.col("slot_ts") < h)
        .filter(F.col("dt") <= dtCol(h - 1L)))
      d
    }
    // attach the (unique-proven) dim subtree to a pruned cascade/quant
    // scan — built at the LOGICAL level so the join condition binds by
    // exprId (a metadata sidecar legitimately carries its own user_id
    // column; name-based resolution would be ambiguous) and the
    // original join hint survives. Returns the joined frame plus an
    // exprId-backed column lookup for the scan side's identity keys.
    def withDim(df: org.apache.spark.sql.DataFrame)
        : (org.apache.spark.sql.DataFrame, String => Column) = {
      val plan = df.queryExecution.analyzed
      val att = attOf(plan) _
      m.dimJoin match {
        case None => (df, (n: String) => F.col(n))
        case Some(dj) =>
          val cond2 = dj.pairs.map { case (name, d) =>
            EqualTo(att(name), d): Expression }.reduce(And)
          val joined = org.apache.spark.sql.graftshim.DatasetBridge
            .ofRows(session, Join(plan, dj.dim, Inner, Some(cond2), dj.node.hint))
          (joined, (n: String) => ColumnBridge.column(att(n)))
      }
    }
    val dimKeyCols: Seq[Column] = dimKeys.map(a => ColumnBridge.column(a))

    // group keys of the EVALUATED cells, shared by the gate query and
    // the substituted read (both run over T-level cascade tables);
    // identity keys resolve through the exprId-backed lookup so a
    // dim-side user_id cannot capture them
    def cellKeys(c: String => Column): Seq[Column] =
      (if (hasUid) Seq(c("user_id")) else Nil) ++
      (if (hasEtype) Seq(c("event_type")) else Nil) ++
      (if (stepSec == 0L) Nil
       else if (stepSec == t) Seq(F.col("slot_ts"))
       else Seq((F.expr(s"slot_ts div $stepSec") * stepSec).as("slot_ts")))

    // ---- the exactness gate: max raw samples per evaluated GROUP ----
    // with a dim join the evaluated groups are keyed by the dim
    // attributes — each (unique-join) dim group is a UNION of cells,
    // so the gate joins the same dim subtree and sums n per group: the
    // merged sample must hold every sample of the whole group
    val (gateBase, gateC) = withDim(dtPruned(tableScan(m.info, m.store, s"agg_$t")))
    // One gate job over (base, column-resolver): max over evaluated
    // groups of the summed cell counts.
    def maxCountJob(base: org.apache.spark.sql.DataFrame,
                    c: String => Column): Long = {
      val gateKeys = cellKeys(c) ++ dimKeyCols
      val counts =
        if (gateKeys.isEmpty) base.agg(F.sum("n").as("__graft_cnt"))
        else base.groupBy(gateKeys: _*).agg(F.sum("n").as("__graft_cnt"))
      val r = counts.agg(F.max("__graft_cnt")).collect()
      if (r.isEmpty || r.head.isNullAt(0)) 0L else r.head.getLong(0)
    }
    // Cache design (review r11, twice-revised): the count is MONOTONE
    // in the filters — dropping the range/series predicates can only
    // add rows to a group or add groups, so an UNFILTERED max is an
    // upper bound for every filtered variant at the same grain. A
    // sliding-window dashboard (new lo/hi every refresh) therefore
    // hits ONE permanent "global" cache entry whenever the grain is
    // sub-K and some unfiltered query at the grain has run; otherwise
    // each distinct range caches its own PRUNED count — on any miss
    // the cost is exactly the round-10 pruned job, never an unpruned
    // full-cascade scan. Keys carry every remaining input: cascade
    // level, evaluated grain, the dim subtree's content fingerprint,
    // and (rng only) the range/series text by NAME (exprIds are fresh
    // per query). agg_$t's own content is covered by the store stamp
    // cachedGate validates against; an unfingerprintable dim runs the
    // job uncached.
    val seriesSig = m.seriesCond.map(unresolved(_).toString).getOrElse("none")
    val dimSig: Option[String] = m.dimJoin match {
      case None => Some("nodim")
      case Some(dj) => planSignature(dj.dim).map { sig =>
        val keyPos = dj.pairs
          .map(p => dj.dim.output.indexWhere(_.exprId == p._2.exprId))
        val grpPos = dimKeys
          .map(a => dj.dim.output.indexWhere(_.exprId == a.exprId))
        s"$sig|jk=${dj.pairs.map(_._1).mkString(",")}:${keyPos.mkString(",")}" +
          s"|gk=${grpPos.mkString(",")}"
      }
    }
    def gateKey(scope: String): Option[String] =
      dimSig.map(d => s"maxN|$scope|t=$t|step=$stepSec|uid=$hasUid|et=$hasEtype|$d")
    val unfiltered = loSec.isEmpty && hiSec.isEmpty && m.series.isEmpty
    val canCache = m.info.dataStamp.nonEmpty && dimSig.nonEmpty
    val approxOn = session.conf
      .get("spark.graft.rollup.quantile.approx", "false").toBoolean
    val maxN: Long =
      if (unfiltered)
        // the query itself is global: its count IS the monotone bound,
        // cached under the range-free key every filtered variant reads
        cachedGate(m.info, gateKey("global"))(maxCountJob(gateBase, gateC))
      else if (canCache) {
        // filtered query: consult an ALREADY-CACHED global bound (a
        // cache miss never triggers the unpruned full-cascade job here —
        // on a miss the cost must stay the round-10 pruned job, or a
        // churning stamp under streaming ingest would make every
        // optimize strictly more expensive than before the cache
        // existed). The global entry is populated only when an
        // unfiltered query at this grain actually runs.
        val bound = m.info.cachedGate(gateKey("global").get)
          .collect { case b: Long => b }
        bound match {
          case Some(b) if b < graft.functions.BottomKSample.K => b
          // over-K bound: the exact per-range count only matters when
          // it could still DECLINE — with approx on it never does
          case Some(b) if approxOn => b
          case _ => cachedGate(m.info,
            gateKey(s"rng|lo=$loSec|hi=$hiSec|series=$seriesSig"))(
            maxCountJob(gateBase, gateC))
        }
      } else maxCountJob(gateBase, gateC)
    // Above K samples per evaluated group the stored buffer is a
    // UNIFORM K-SAMPLE of the group, not its full multiset — by
    // default the rule declines (an estimate must never masquerade as
    // the exact answer the query text wrote). The opt-in approx flag
    // (VERDICT r9 missing #1) serves the sketch estimate anyway —
    // O(1/√K) rank error — which is where the rewrite pays MOST: at
    // production poll density the ad-hoc percentile otherwise always
    // re-sorts raw. Default off preserves the exactness contract.
    if (maxN >= graft.functions.BottomKSample.K && !approxOn) return None

    // ---- the substituted read over quant_T ----
    // a dim join always takes the merge path: its groups union cells
    // across series, so even the exact grain re-aggregates (one
    // ObjectHashAggregate over dim-grouped sketch rows)
    val exact = t == stepSec && hasUid && hasEtype && m.dimJoin.isEmpty
    def rankRead(valueCol: Column, q: Double): Column = {
      val n = F.size(valueCol)
      // groups only exist where sketches do; the one empty-buffer case
      // is the GLOBAL aggregate over an empty range, where raw
      // percentile_disc is NULL too (the guard also keeps ANSI
      // element_at in range)
      F.when(n > 0,
        F.element_at(F.array_sort(valueCol),
          F.greatest(F.lit(1L), F.ceil(F.lit(q) * n)).cast("int")))
    }
    // interpolated read, mirroring PercentileBase.getPercentile EXACTLY
    // so the rewritten answer is bit-identical to evaluating the text
    // over raw: position = q·(n-1); equal bracket keys short-circuit
    // (Spark returns the key, not the arithmetic identity, which can
    // differ in the last ulp); otherwise
    // (higher−position)·v[lower] + (position−lower)·v[higher]
    def contRead(valueCol: Column, q: Double): Column = {
      val n = F.size(valueCol)
      val sorted = F.array_sort(valueCol)
      val pos = F.lit(q) * (n - 1).cast("double")
      val lower = F.floor(pos)
      val higher = F.ceil(pos)
      val vLo = F.element_at(sorted, (lower + 1).cast("int")).cast("double")
      val vHi = F.element_at(sorted, (higher + 1).cast("int")).cast("double")
      F.when(n > 0,
        F.when(lower === higher || vLo === vHi, vLo)
          .otherwise((higher.cast("double") - pos) * vLo
            + (pos - lower.cast("double")) * vHi))
    }
    def read(valueCol: Column, q: (Double, Boolean)): Column =
      if (q._2) contRead(valueCol, q._1) else rankRead(valueCol, q._1)
    val qName: Map[(Double, Boolean), String] =
      qs.zipWithIndex.map { case (q, i) => q -> s"__graft_q_$i" }.toMap
    val (rep0, repC) = withDim(dtPruned(tableScan(m.info, m.store, s"quant_$t")))
    val rep =
      if (exact)
        rep0.select(F.col("user_id") +: F.col("event_type") +:
          F.col("slot_ts") +:
          qs.map(q => read(F.col("value"), q).as(qName(q))): _*)
      else {
        val ms = F.udaf(new graft.functions.BottomKMergeState)
        val keys = cellKeys(repC) ++ dimKeyCols
        val merged =
          if (keys.isEmpty)
            rep0.agg(ms(F.col("pri"), F.col("value")).as("sk"))
          else rep0.groupBy(keys: _*)
            .agg(ms(F.col("pri"), F.col("value")).as("sk"))
        merged.select(
          ((if (hasUid) Seq(F.col("user_id")) else Nil) ++
           (if (hasEtype) Seq(F.col("event_type")) else Nil) ++
           (if (stepSec != 0L) Seq(F.col("slot_ts")) else Nil) ++
           dimKeyCols ++
           qs.map(q => read(F.col("sk.value"), q).as(qName(q)))): _*)
      }
    val repPlan = rep.queryExecution.analyzed
    val repAtt = attOf(repPlan) _

    // quantile leaves become the rep frame's __graft_q_i columns,
    // grouping references its key columns
    def qLeaf(pct: Expression, cont: Boolean): Option[Expression] =
      pct.eval() match {
        case q: java.lang.Double => qName.get((q.doubleValue, cont)).map(repAtt)
        case _ => None
      }
    convertOutputs(agg, repPlan.output.map(_.exprId).toSet)({
      case AggregateExpression(pd: PercentileDisc, Complete, false, None, _) =>
        qLeaf(pd.percentageExpression, cont = false)
      case AggregateExpression(pc: Percentile, Complete, false, None, _) =>
        qLeaf(pc.percentageExpression, cont = true)
      case _ => None
    }, a => m.baseKey(m.resolve(a),
      repAtt("user_id"), repAtt("event_type"), repAtt("slot_ts")))
      .map(Project(_, repPlan))
  }

  // ---- rate path: rate_T --------------------------------------------

  /** Rate-cascade substitution (VERDICT r6 next #6): the wrap-corrected,
    * heartbeat-validated counter-delta aggregate
    *
    *   base → lag(cents), lag(ts_us) over (series, ORDER ts_us, event_id)
    *        → filter(prev_ts_us IS NOT NULL ∧ ts_us − prev_ts_us ≤ hb·10⁶)
    *        → groupBy(series keys?, slot(S)?)
    *        → agg(count(1), sum(wrap-delta), sum(ts_us − prev_ts_us))
    *
    * is the SAME computation the store materializes as `rate_T`
    * ([[TsdbStore]] validDeltas → rateAggFromDeltas), so it substitutes
    * the way the monoid four substitute `agg_T`: exact-step hits
    * collapse to a Project over the rate cascade, coarser steps and
    * dropped keys re-sum (each cascade row is already a per-cell sum of
    * deltas — summing sums is the monoid composition). The match is
    * deliberately exact: the heartbeat literal must equal the store's
    * STAMPED heartbeatSec (a different heartbeat is a different
    * validity rule), the delta must be the engine's canonical
    * ((c−p) % cap + cap) % cap with cap = WrapCap (or the native
    * wrap_delta), the window exactly lag(1) over (user_id, event_type)
    * ordered (ts_us, event_id) asc — any deviation leaves the plan
    * alone. Series filters transfer from either side of the window;
    * T-aligned ts_us bounds transfer from ABOVE it only (a time filter
    * BELOW the window changes which sample is "previous" — that is not
    * the cascade's content). */
  private def rewriteRate(agg: Aggregate): Option[LogicalPlan] = {
    val above = walk(agg.child) { case w: Window => Some(Walk(w, None, Map.empty)) } match {
      case Some(x) => x
      case None => return None
    }
    val win = above.leaf
    val below = walk(win.child)(scan) match {
      case Some(x) => x
      case None => return None
    }
    val belowConds = splitConjuncts(below.cond)
    val m = matchScan(agg, below.leaf._1, splitConjuncts(above.cond) ++ belowConds,
        e => below.resolve(above.resolve(e)), None) match {
      case Some(x) => x
      case None => return None
    }
    // below the window: series conjuncts ONLY
    if (!belowConds.forall(m.series.contains)) return None
    def isRel(e: Expression, name: String): Boolean = m.is(name)(m.resolve(e))

    // the window must be EXACTLY the canonical delta window — series
    // partition, (ts_us, event_id) ascending order, two lag(1) columns
    // over cents and ts_us
    if (win.partitionSpec.map(m.resolve).collect {
        case a: AttributeReference => a.exprId
      }.toSet != Set(m.ids("user_id"), m.ids("event_type"))) return None
    win.orderSpec.map(o => (o.child, o.direction)) match {
      case Seq((ts, Ascending), (ev, Ascending))
          if isRel(ts, "ts_us") && isRel(ev, "event_id") => ()
      case _ => return None
    }
    if (win.windowExpressions.length != 2) return None
    var prevCentsId: Option[ExprId] = None
    var prevTsId: Option[ExprId] = None
    win.windowExpressions.foreach {
      case al @ Alias(WindowExpression(
          Lag(in, Literal(1, IntegerType), Literal(null, _), false), _), _) =>
        if (isRel(in, "cents")) prevCentsId = Some(al.exprId)
        else if (isRel(in, "ts_us")) prevTsId = Some(al.exprId)
      case _ => ()
    }
    val (pcId, ptId) = (prevCentsId, prevTsId) match {
      case (Some(a), Some(b)) => (a, b)
      case _ => return None
    }
    def isAtt(e: Expression, id: ExprId): Boolean = e match {
      case a: AttributeReference => a.exprId == id
      case _ => false
    }

    // the engine's canonical wrap-corrected delta and elapsed time
    val cap = graft.Tables.WrapCap
    def isDelta(e: Expression): Boolean = e match {
      case Remainder(Add(Remainder(Subtract(c, p, _), Literal(c1: Long, LongType), _),
          Literal(c2: Long, LongType), _), Literal(c3: Long, LongType), _)
          if c1 == cap && c2 == cap && c3 == cap &&
            isRel(c, "cents") && isAtt(p, pcId) => true
      case graft.functions.WrapDelta(p, c, Literal(c1: Long, LongType))
          if c1 == cap && isAtt(p, pcId) && isRel(c, "cents") => true
      case _ => false
    }
    def isDt(e: Expression): Boolean = e match {
      case Subtract(t, p, _) if isRel(t, "ts_us") && isAtt(p, ptId) => true
      case _ => false
    }

    // the rest of the filter ABOVE the window must be exactly the
    // cascade's validity rule: the heartbeat gate (REQUIRED, equal to
    // the stamped heartbeat) and isnotnull(prev_ts_us) (REQUIRED); an
    // inferred isnotnull(ts_us) is implied by the heartbeat conjunct
    // in both engines and may be dropped
    var hbOk = false; var prevNotNull = false
    m.rest.foreach {
      case LessThanOrEqual(d, Literal(hb: Long, LongType))
          if isDt(d) && hb == m.layout.heartbeatSec * 1000000L => hbOk = true
      case IsNotNull(a: AttributeReference) if a.exprId == ptId => prevNotNull = true
      case IsNotNull(e) if isRel(e, "ts_us") => ()
      case _ => return None
    }
    if (!hbOk || !prevNotNull) return None

    val t = chooseLevel(m, Seq("rate_"), split = false) match {
      case Some(x) => x
      case None => return None
    }
    val (cascade, att) = bind(m, s"rate_$t")
    val (uid, etype, slot) = (att("user_id"), att("event_type"), att("slot_ts"))
    val (nvC, dC, dtC) = (att("n_valid"), att("delta_cents"), att("dt_us"))
    val child2 = interior(m, t, cascade, att)
    val exact = t == m.stepSec && m.hasUid && m.hasEtype
    val slot2 = slotAt(slot, t, m.stepSec)
    convertOutputs(agg, cascade.output.map(_.exprId).toSet)({
      // the rate cascade's rows are per-(series, slot) DELTA sums — no
      // distinct set (or FILTER-clause semantics) survives them
      case AggregateExpression(f, Complete, false, None, _) => f match {
        case Count(Seq(Literal(v, _))) if v != null => Some(countOf(m, exact, nvC))
        case Sum(c, _) if isDelta(m.resolve(c)) => Some(if (exact) dC else ae(Sum(dC)))
        case Sum(c, _) if isDt(m.resolve(c)) => Some(if (exact) dtC else ae(Sum(dtC)))
        case _ => None
      }
      case _ => None
    }, a => m.baseKey(m.resolve(a), uid, etype, slot2))
      .map(regroup(m, exact, _, child2, uid, etype, slot2))
  }
}
