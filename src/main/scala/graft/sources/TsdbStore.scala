package graft.sources

import java.time.{LocalDate, YearMonth}

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.TimeSeriesOps

/** Store layout configuration — the reference's per-var metadata
  * (step chain, chunk mapper, heartbeat) as an explicit, validated
  * value [pub: tsdb var metadata + YYYYMMDDChunkMapper/YYYYMMChunkMapper
  * — unverified, mount empty, SURVEY.md §0].
  *
  * @param steps aggregate step chain in seconds, finest first; each
  *   step must divide the next (coarse levels are computed FROM finer
  *   ones, never from raw) and every step must divide a day, so a base
  *   partition maps to exactly one partition at every level — the
  *   invariant the incremental upsert's bounded blast radius rests on
  * @param monthly partition base + cascades by month (`dt=YYYY-MM`)
  *   instead of day — the reference's YYYYMM chunk mapping for
  *   low-rate series (fewer, larger partitions)
  * @param heartbeatSec max sample gap for a counter delta to be valid
  *   (poller-down gaps are dropped, never interpolated)
  * @param buckets when > 0, the base table is ALSO written as a
  *   Hive-bucketed table on (user_id, event_type) so per-series windows
  *   and series equi-joins plan with NO shuffle ([[TsdbStore.bucketedBaseTable]])
  * @param quantiles materialize the `quant_<step>` bottom-k sketch
  *   column family (default on). A store that never serves percentile
  *   reads can opt out of that ingest/maintenance cost; quantile
  *   fetches against it fail loudly instead of scanning raw
  * @param commit the store's layout: `"manifest"` — the store's one
  *   commit protocol ([[StoreManifest]]): data in write-once segment
  *   dirs, the live set resolved from the newest `_commits/v<N>.mf`,
  *   every mutation committed by ONE new-file create — object-store
  *   safe, and every multi-table maintenance pass is atomic to
  *   readers. Bucketing composes: the bucketed base is written INSIDE
  *   the ingest segment and [[TsdbStore.bucketedBaseTable]] registers
  *   the live snapshot's partition locations at resolve time.
  *   `"rename"` (default) — plain `<store>/<table>/dt=` directories
  *   written whole by [[TsdbStore.ingest]] and
  *   [[TsdbStore.ingestMetadata]] and read-only otherwise: every other
  *   mutator refuses it before writing anything. The default stays
  *   because existing readers address `<store>/base` directly
  */
case class StoreLayout(
    steps: Seq[Long] = Seq(21600L, 86400L),
    monthly: Boolean = false,
    heartbeatSec: Long = 21600L,
    buckets: Int = 0,
    quantiles: Boolean = true,
    commit: String = "rename") {
  require(steps.nonEmpty, "at least one aggregate step")
  require(steps == steps.sorted && steps.distinct == steps,
    s"steps must be strictly ascending: $steps")
  require(steps.forall(s => s > 0 && 86400L % s == 0),
    s"every step must divide 86400: $steps")
  steps.sliding(2).foreach {
    case Seq(fine, coarse) =>
      require(coarse % fine == 0, s"each step must divide the next: $fine !| $coarse")
    case _ => ()
  }
  require(heartbeatSec > 0, "heartbeatSec must be positive")
  require(buckets >= 0, "buckets must be >= 0")
  require(commit == "rename" || commit == "manifest",
    s"commit must be 'rename' or 'manifest': $commit")
}

/** The storage layer: the reference's directory-tree TSDB re-expressed
  * as a partitioned parquet layout plus materialized multi-resolution
  * aggregates.
  *
  * Reference mapping (SURVEY.md §1.2, [pub: tsdb/__init__.py,
  * chunk_mapper.py — unverified, mount empty, SURVEY.md §0]):
  *  - date-named chunk files            → `dt=YYYY-MM-DD` partitions
  *    (`dt=YYYY-MM` with the monthly mapper; partition pruning
  *    replaces chunk-name arithmetic)
  *  - offset addressing within a chunk  → parquet row-group min/max
  *    pushdown on `ts_us`
  *  - per-insert Aggregator.update cascade → batch-materialized
  *    `agg_<step>` tables (value aggregates) + `rate_<step>` tables
  *    (wrap-corrected, heartbeat-validated counter deltas — the
  *    reference Aggregator's ACTUAL content [pub: tsdb/aggregator.py]),
  *    coarser levels computed FROM finer ones
  *  - TSDBVar path lookup               → series-key equality predicates
  *
  * Every `dt` is derived with INTEGER UTC epoch-day math
  * (`date_from_unix_date(ts_us div 86400e6)`), never the session
  * timezone — ingest, incremental recompute, pruning and retention all
  * agree in any session timezone (ADVICE r3 #1).
  *
  * Scale notes: ingest is one narrow pass + `partitionBy("dt")` write
  * (at 100 TB: daily partitions × size-targeted files; the
  * `buckets` layout option adds series bucketing so per-series windows
  * and idempotent upserts are shuffle-free). Reads prune partitions
  * first, then row groups, then columns — the same three-level pruning
  * story as the reference's chunk/offset/field addressing.
  */
object TsdbStore {

  /** Default cascade (6 h, 1 d) — kept as a stable name for callers
    * that don't configure a layout. */
  val AggSteps: Seq[Long] = StoreLayout().steps

  // ---- dt derivation: integer UTC epoch-day math, session-tz-proof ----

  /** UTC calendar day of an epoch-second (driver side). */
  private def utcDay(sec: Long): LocalDate =
    LocalDate.ofEpochDay(Math.floorDiv(sec, 86400L))

  private def dtOfDay(layout: StoreLayout, d: LocalDate): String =
    if (layout.monthly) f"${d.getYear}%04d-${d.getMonthValue}%02d" else d.toString

  /** The dt partition value of an epoch-second as a Catalyst literal
    * (DATE for daily, 'YYYY-MM' STRING for monthly): the right-hand
    * side of a partition-prune bound on a store table's `dt` column. */
  private[graft] def dtLiteral(layout: StoreLayout, sec: Long)
      : org.apache.spark.sql.catalyst.expressions.Literal = {
    import org.apache.spark.sql.catalyst.expressions.Literal
    val day = utcDay(sec)
    if (layout.monthly)
      Literal.create(dtOfDay(layout, day), org.apache.spark.sql.types.StringType)
    else Literal(day.toEpochDay.toInt, org.apache.spark.sql.types.DateType)
  }

  /** dt partition expression from a µs-epoch column (DATE for daily,
    * 'YYYY-MM' STRING for monthly). FLOOR division, not SQL `div`
    * (which truncates toward zero): a pre-1970 sample must land in its
    * own, EARLIER day or it disagrees with the driver-side
    * `Math.floorDiv` in [[utcDay]] and `dtPrune` can exclude it from
    * fetch/retention (ADVICE r4). `pmod` is nonnegative, so
    * `(a - pmod(a, b)) div b == floorDiv(a, b)` in exact integer math. */
  private def dtFromTsUs(layout: StoreLayout): Column = {
    val day = date_from_unix_date(expr(
      "CAST((ts_us - pmod(ts_us, 86400000000)) div 86400000000 AS INT)"))
    if (layout.monthly) date_format(day, "yyyy-MM") else day
  }

  /** dt partition expression from a sec-epoch slot column (same
    * floor-division contract as [[dtFromTsUs]]). */
  private def dtFromSlot(layout: StoreLayout): Column = {
    val day = date_from_unix_date(expr(
      "CAST((slot_ts - pmod(slot_ts, 86400)) div 86400 AS INT)"))
    if (layout.monthly) date_format(day, "yyyy-MM") else day
  }

  /** The dt partition immediately before / after `dt`. */
  private def prevDt(layout: StoreLayout, dt: String): String =
    if (layout.monthly) YearMonth.parse(dt).minusMonths(1).toString
    else LocalDate.parse(dt).minusDays(1).toString
  private def nextDt(layout: StoreLayout, dt: String): String =
    if (layout.monthly) YearMonth.parse(dt).plusMonths(1).toString
    else LocalDate.parse(dt).plusDays(1).toString

  /** Directory-level prune on the dt partition key for a half-open
    * [beginSec, endSec) range — [[rangedRead]]'s, under every fetch.
    * Daily dt is DATE; monthly dt is a 'YYYY-MM' string (lexicographic
    * order == chronological order by construction). */
  private def dtPrune(layout: StoreLayout, beginSec: Long, endSec: Long): Column =
    if (layout.monthly)
      col("dt") >= lit(dtOfDay(layout, utcDay(beginSec))) &&
        col("dt") <= lit(dtOfDay(layout, utcDay(endSec)))
    else
      col("dt") >= lit(java.sql.Date.valueOf(utcDay(beginSec))) &&
        col("dt") <= lit(java.sql.Date.valueOf(utcDay(endSec)))

  /** dt partition values as typed filter literals (DATE for daily,
    * STRING for monthly), for `col("dt").isin(...)`. */
  private def dtLits(layout: StoreLayout, dts: Seq[String]): Seq[Any] =
    if (layout.monthly) dts else dts.map(java.sql.Date.valueOf)

  // ---- layout persistence --------------------------------------------

  /** The layout is STORE metadata, not caller knowledge: ingest stamps
    * it, every later read/maintenance call re-derives it — a fetch can
    * never disagree with the layout the store was built with. */
  private def writeLayout(spark: SparkSession, path: String, layout: StoreLayout): Unit = {
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(new org.apache.hadoop.fs.Path(s"$path/_LAYOUT"), true)
    out.write(
      (s"steps=${layout.steps.mkString(",")}\n" +
        s"monthly=${layout.monthly}\n" +
        s"heartbeat=${layout.heartbeatSec}\n" +
        s"buckets=${layout.buckets}\n" +
        s"quantiles=${layout.quantiles}\n" +
        s"commit=${layout.commit}\n").getBytes("UTF-8"))
    out.close()
  }

  /** Content stamp for optimizer gate caches (VERDICT r10 wrong #2):
    * every mutator bumps `_DATA_STAMP` to a fresh unique value AFTER
    * its writes land, and RollupSubstitution keys its data-dependent
    * optimize-time gate-job results (dim uniqueness, sub-K counts) on
    * the stamp — so upsert / compaction / retention / streaming
    * appends invalidate exactly when content changes and a dashboard
    * firing the same query repeatedly pays the gate jobs ONCE per
    * store mutation instead of once per query. A store without the
    * stamp (older writer, foreign files) simply gets NO gate caching —
    * correctness never depends on the stamp existing, only the
    * fixed-cost saving does. */
  def touchDataStamp(spark: SparkSession, path: String): Unit = {
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(new org.apache.hadoop.fs.Path(s"$path/_DATA_STAMP"), true)
    out.write(java.util.UUID.randomUUID().toString.getBytes("UTF-8"))
    out.close()
  }

  /** The current `_DATA_STAMP` value; empty string if absent. */
  def readDataStamp(spark: SparkSession, path: String): String = {
    val p = new org.apache.hadoop.fs.Path(s"$path/_DATA_STAMP")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = try fs.open(p) catch { case _: java.io.FileNotFoundException => return "" }
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
  }

  /** Create an EMPTY store: stamp the layout so every later entry
    * point (including a streaming sink's very first microbatch, which
    * bootstraps base via [[upsertIncremental]]) resolves the right
    * commit protocol — a streaming-first deployment has no batch
    * [[ingest]] to write the stamp for it. Idempotent for an identical
    * layout; refuses to silently re-stamp a store built differently. */
  def initStore(spark: SparkSession, path: String,
                layout: StoreLayout = StoreLayout()): Unit = {
    val fs = fsOf(spark, path)
    if (fs.exists(new org.apache.hadoop.fs.Path(s"$path/_LAYOUT"))) {
      val existing = readLayout(spark, path)
      require(existing == layout,
        s"store at $path already stamped with $existing — refusing to " +
          s"re-stamp as $layout; use a fresh path or a full ingest")
    } else writeLayout(spark, path, layout)
  }

  /** Read the stamped layout; a store predating `_LAYOUT` gets the
    * defaults it was built with. */
  def readLayout(spark: SparkSession, path: String): StoreLayout = {
    val p = new org.apache.hadoop.fs.Path(s"$path/_LAYOUT")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) StoreLayout()
    else {
      val in = fs.open(p)
      val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
      val kv = text.linesIterator.filter(_.contains('='))
        .map { l => val Array(k, v) = l.split("=", 2); k -> v }.toMap
      StoreLayout(
        steps = kv("steps").split(",").map(_.trim.toLong).toSeq,
        monthly = kv.getOrElse("monthly", "false").toBoolean,
        heartbeatSec = kv.getOrElse("heartbeat", "21600").toLong,
        buckets = kv.getOrElse("buckets", "0").toInt,
        quantiles = kv.getOrElse("quantiles", "true").toBoolean,
        commit = kv.getOrElse("commit", "rename"))
    }
  }

  // ---- store-metadata cache -------------------------------------------

  /** One store root's read-side metadata: the parsed layout, each
    * table's data schema and existence, and the rollup rule's gate
    * answers — valid while the `_LAYOUT` modification time
    * (`layoutMtime`, -1 when absent) and the `_DATA_STAMP` value are
    * both unchanged, so upsert / compaction / retention retire exactly
    * what they can change. Metadata only, never rows or file listings:
    * every read still lists its files fresh — exactly what an uncached
    * read pays for its own scan. An unstamped store
    * (`dataStamp` empty) never caches: each lookup re-infers, as a
    * plain `spark.read.parquet` would. */
  private[graft] final class StoreMeta(val layoutMtime: Long,
                                       val dataStamp: String,
                                       val layout: StoreLayout) {
    private val schemas =
      scala.collection.concurrent.TrieMap.empty[String, org.apache.spark.sql.types.StructType]
    private val present = scala.collection.concurrent.TrieMap.empty[String, Boolean]
    private val gates = scala.collection.concurrent.TrieMap.empty[String, Any]

    /** `table`'s data schema, inferred by `infer` on a miss. */
    def schema(table: String)(infer: => org.apache.spark.sql.types.StructType)
        : org.apache.spark.sql.types.StructType =
      if (dataStamp.isEmpty) infer else schemas.getOrElseUpdate(table, infer)

    /** Whether `table` exists, probed by `probe` on a miss. */
    def exists(table: String)(probe: => Boolean): Boolean =
      if (dataStamp.isEmpty) probe else present.getOrElseUpdate(table, probe)

    /** A content-derived answer (a rollup gate job's result, the live
      * manifest snapshot) under `key`, computed by `run` on a miss.
      * Past `MaxGateEntries` a new key runs uncached rather than
      * growing driver memory without limit (the rule's monotone
      * global-bound entries are inserted long before the cap bites). */
    def gate[T](key: String)(run: => T): T =
      if (dataStamp.isEmpty) run
      else gates.get(key) match {
        case Some(v) => v.asInstanceOf[T]
        case None =>
          val v = run
          if (gates.size < MaxGateEntries) gates.update(key, v)
          v
      }

    /** The answer cached under `key`, if any — never computes it. */
    def cachedGate(key: String): Option[Any] = gates.get(key)
  }

  /** Stamped stores whose metadata stays cached, least recently used
    * evicted first, and gate answers kept per store — fixed bounds on
    * driver memory, not tunables. */
  private val MaxCachedStores = 64
  private val MaxGateEntries = 1024
  private val storeMetas =
    new java.util.LinkedHashMap[String, StoreMeta](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, StoreMeta]): Boolean = size() > MaxCachedStores
    }

  /** The store's metadata, from the cache when its stamps still match:
    * one `_LAYOUT` status and one `_DATA_STAMP` read per lookup, no
    * Spark job. The stamp is read BEFORE any schema is inferred, so a
    * mutation landing mid-lookup leaves its fresh schema under the OLD
    * stamp — which the mutator's own stamp bump then retires — and
    * never an old schema under the new stamp. */
  private[graft] def storeMeta(spark: SparkSession, path: String): StoreMeta = {
    val mtime =
      try fsOf(spark, path).getFileStatus(new org.apache.hadoop.fs.Path(s"$path/_LAYOUT"))
        .getModificationTime
      catch { case _: java.io.FileNotFoundException => -1L }
    val stamp = readDataStamp(spark, path)
    val hit = storeMetas.synchronized(storeMetas.get(path))
    if (hit != null && hit.layoutMtime == mtime && hit.dataStamp == stamp) hit
    else {
      val fresh = new StoreMeta(mtime, stamp, readLayout(spark, path))
      if (stamp.nonEmpty) storeMetas.synchronized(storeMetas.put(path, fresh))
      fresh
    }
  }

  // ---- table resolution (rename layout: a directory; manifest
  //      layout: the newest snapshot's live partition set) ------------

  private def fsOf(spark: SparkSession,
                   path: String): org.apache.hadoop.fs.FileSystem =
    new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The store's layout, or a refusal naming `op` when the store does
    * not commit through the manifest: the rename layout is written
    * whole by [[ingest]] and [[ingestMetadata]] and is read-only to
    * every other mutation and to the snapshot-only reads. Checked
    * before anything is written. */
  private[graft] def requireManifest(spark: SparkSession, path: String,
                                     op: String): StoreLayout = {
    val layout = readLayout(spark, path)
    require(layout.commit == "manifest",
      s"$op needs the manifest layout, but the store at $path uses the " +
        "rename layout, which only ingest and ingestMetadata write — " +
        "build the store with StoreLayout(commit = \"manifest\")")
    layout
  }

  /** The canonical time column per store table — the column whose
    * per-partition min/max rides in the manifest's entry statistics
    * (native unit: µs for raw samples, epoch-seconds for cascade
    * slots, µs for metadata validity starts). */
  private def timeColOf(table: String): String = table match {
    case "base" => "ts_us"
    case "meta" => "valid_from_us"
    case _ => "slot_ts" // agg_<step> / rate_<step> / quant_<step>
  }

  /** Every dt-partitioned data table a store of `layout` holds: base,
    * then each step's value, rate and (unless opted out) quantile
    * levels. The metadata sidecar is not one of them. */
  private def storeTables(layout: StoreLayout): Seq[String] =
    "base" +: layout.steps.flatMap(s => Seq(s"agg_$s", s"rate_$s") ++
      (if (layout.quantiles) Seq(s"quant_$s") else Seq.empty))

  /** A fresh entry set's harvested statistics: per-partition
    * [[StoreManifest.EntryStats]] plus per-file
    * [[StoreManifest.FileStats]] (round 16 — the series-key skip
    * data), from one driver-side parquet-footer pass per written
    * partition — per mutation, never per query. */
  private case class Harvest(
      stats: Map[(String, String), StoreManifest.EntryStats],
      files: Map[(String, String), Seq[StoreManifest.FileStats]])

  private def segStats(fs: org.apache.hadoop.fs.FileSystem, path: String,
                       entries: Map[(String, String), String]): Harvest = {
    val h = entries.map { case (key @ (table, _), rel) =>
      key -> StoreManifest.statsOf(fs, path, rel, timeColOf(table))
    }
    Harvest(h.map { case (k, (e, _)) => k -> e },
      h.collect { case (k, (_, f)) if f.nonEmpty => k -> f })
  }

  /** Declared data schemas for freshly written segment tables, read
    * back from the written files themselves (one driver-side footer
    * per table per mutation): the read-back is the ground truth a
    * per-query inference would produce, so stamping it into the
    * snapshot spares reads the inference and changes nothing else.
    * The partition dir is read directly, so the dt partition column is
    * naturally excluded. The column SET and order come from the files,
    * but a field `prev` already declared keeps its DECLARED
    * StructField — that is where the evolution identity lives (field
    * id + physical-name history metadata, [[renameColumn]]), which a
    * raw footer harvest would silently strip, breaking every
    * pre-rename segment's reads at the NEXT data commit. */
  private def segSchemas(spark: SparkSession, path: String,
                         fresh: Map[(String, String), String],
                         prev: StoreManifest.Snapshot): Map[String, String] =
    fresh.keys.map(_._1).toSeq.distinct.map { t =>
      val rel = fresh.collectFirst { case ((`t`, _), r) => r }.get
      val harvested = spark.read.parquet(s"$path/$rel").schema
      val declared = prev.schemas.get(t).map(j =>
        org.apache.spark.sql.types.DataType.fromJson(j)
          .asInstanceOf[org.apache.spark.sql.types.StructType])
      t -> org.apache.spark.sql.types.StructType(harvested.fields.map { f =>
        declared.flatMap(_.fields.find(_.name == f.name)).getOrElse(f)
      }).json
    }.toMap

  /** The store's partition-successor mapping, for the optimistic
    * rebase classifier's rate-adjacency closure
    * ([[StoreManifest.Mutation.dtAdjacency]], ADVICE r16 #1). Passed
    * by every dt-partitioned DATA mutation; compaction deliberately
    * omits it — a row-preserving rewrite changes nothing any neighbor
    * derives from, so the closure would only force needless re-runs. */
  private def adjacencyOf(layout: StoreLayout): Option[(String => String, String => String)] =
    Some((nextDt(layout, _: String), prevDt(layout, _: String)))

  /** ADDITIVE schema evolution (round 16, VERDICT r15 missing #3):
    * declare a new NULLABLE column on a manifest-store table as a PURE
    * METADATA commit — the snapshot's declared schema widens, no data
    * file is touched (every table manifest is reused verbatim, so the
    * commit writes one small list file). Old segments null-complete
    * under the wider declared schema at read (Spark's parquet reader
    * fills columns absent from a file's footer with nulls when given
    * an explicit dataSchema); mutations from then on carry the column
    * when their input feed provides it and null it otherwise
    * ([[normalize]]). The CASCADES deliberately do not carry evolved
    * base columns — aggregate shapes are the layout's contract, and a
    * column with aggregation semantics belongs in a layout change, not
    * a schema patch. This is Iceberg/Delta's ALTER TABLE ADD COLUMN
    * shape on the same snapshot-log lineage. */
  def addColumn(spark: SparkSession, path: String, table: String,
                field: org.apache.spark.sql.types.StructField): Unit = {
    requireManifest(spark, path, "addColumn")
    require(field.nullable,
      s"added columns must be nullable — existing rows have no value " +
        s"for '${field.name}'")
    // 'dt' is the hive partition column manifestRead appends at read —
    // a data column by that name (any case: Spark resolves column
    // references case-insensitively by default) would make every later
    // read of the table ambiguous (ADVICE r16 #5)
    require(!field.name.equalsIgnoreCase("dt"),
      "'dt' is the store's partition column — a data column by that " +
        "name would be ambiguous in every read")
    val fs = fsOf(spark, path)
    StoreManifest.publishOptimistic(fs, path, tornGraceMs(spark)) { snap =>
      require(snap.entries.keys.exists(_._1 == table),
        s"no live table '$table' at $path")
      val cur = snap.schemas.get(table)
        .map(j => org.apache.spark.sql.types.DataType.fromJson(j)
          .asInstanceOf[org.apache.spark.sql.types.StructType])
        .getOrElse {
          // pre-v3 store: harvest the declared base from a live footer
          val rel = snap.entries.collectFirst { case ((`table`, _), r) => r }.get
          spark.read.parquet(s"$path/$rel").schema
        }
      require(!namesInUse(cur).contains(field.name.toLowerCase),
        s"column name '${field.name}' is already in use on '$table' " +
          s"(current or historical, case-insensitively — Spark's default " +
          s"column resolution: ${cur.fieldNames.mkString(", ")})")
      require(!droppedNames(snap, table).contains(field.name.toLowerCase),
        s"column name '${field.name}' was DROPPED from '$table' — old " +
          "segments still carry it, and the name-history read path " +
          "cannot distinguish their values from the new column's; " +
          "pick a fresh name (per-file id resolution would lift this)")
      Some(StoreManifest.Mutation(
        entries = snap.entries, stats = snap.stats, files = snap.files,
        schemas = snap.schemas.updated(table, withFieldIds(
          org.apache.spark.sql.types.StructType(cur.fields :+ field)).json),
        op = "addColumn"))
    }
    touchDataStamp(spark, path)
  }

  // ---- rename/drop evolution (round 17, VERDICT r16 missing #2) ------

  /** Metadata key holding a renamed field's former physical names,
    * oldest first ([[renameColumn]] appends). */
  private val PhysNamesKey = "graft.phys.names"

  /** Spark's standard parquet field-id metadata key: fields carrying
    * it write their id into the parquet schema
    * (`spark.sql.parquet.fieldId.write.enabled`, on by default), the
    * Iceberg-style stable column identity. */
  private val FieldIdKey = "parquet.field.id"

  /** The base table's canonical columns — the shape every store write
    * produces and every fetch path reads; never renamable/droppable. */
  private val CanonicalCols =
    Set("user_id", "event_type", "event_id", "ts_us", "cents", "dt")

  /** Former physical names of a declared field, oldest first. */
  private[sources] def physNames(
      f: org.apache.spark.sql.types.StructField): Seq[String] =
    if (f.metadata.contains(PhysNamesKey))
      f.metadata.getStringArray(PhysNamesKey).toSeq
    else Seq.empty

  /** Every column name a declared schema claims, current AND
    * historical, lower-cased (Spark resolves case-insensitively by
    * default) — the collision domain for add/rename. */
  private def namesInUse(st: org.apache.spark.sql.types.StructType): Set[String] =
    st.fields.flatMap(f => f.name +: physNames(f)).map(_.toLowerCase).toSet

  private def droppedKey(table: String) = s"dropped:$table"

  /** Names retired by [[dropColumn]] (current + historical at drop
    * time), lower-cased. Kept as a snapshot prop so the no-reuse rule
    * survives the drop itself. */
  private def droppedNames(snap: StoreManifest.Snapshot,
                           table: String): Set[String] =
    snap.props.get(droppedKey(table)).toSeq
      .flatMap(_.split(",")).filter(_.nonEmpty)
      .map(n => java.net.URLDecoder.decode(n, "UTF-8").toLowerCase).toSet

  /** Stamp a stable field id on every field missing one. Ids give
    * columns an identity independent of their name (the public
    * Iceberg design): every post-evolution segment's files carry them
    * (Spark's `parquet.field.id` write support, via the declared
    * schema [[normalize]] attaches to written columns). The READ path
    * resolves by name-history instead of by id — pre-evolution files
    * carry no ids, and Spark's id-resolving reader nulls (or errors
    * on) id-less files rather than falling back to names, so one
    * uniform name-history path with a no-name-reuse rule is the
    * correct-for-every-vintage choice; the stamped ids make the files
    * forward-compatible with an id-resolving reader that could lift
    * the no-reuse rule once pre-id segments age out. */
  private def withFieldIds(st: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    var next = st.fields.flatMap(f =>
      if (f.metadata.contains(FieldIdKey)) Some(f.metadata.getLong(FieldIdKey))
      else None).foldLeft(0L)(math.max) + 1
    StructType(st.fields.map { f =>
      if (f.metadata.contains(FieldIdKey)) f
      else {
        val m = new MetadataBuilder().withMetadata(f.metadata)
          .putLong(FieldIdKey, next).build()
        next += 1
        f.copy(metadata = m)
      }
    })
  }

  /** Remove [[FieldIdKey]] from every field — applied to every READ
    * schema ([[manifestRead]]): with ids present Spark resolves
    * parquet columns BY ID and hard-fails on the store's id-less
    * pre-evolution files rather than falling back to names, so reads
    * use uniform name-history resolution while writes keep the ids. */
  private def stripFieldIds(st: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    if (!st.fields.exists(_.metadata.contains(FieldIdKey))) st
    else StructType(st.fields.map { f =>
      if (!f.metadata.contains(FieldIdKey)) f
      else f.copy(metadata = new MetadataBuilder().withMetadata(f.metadata)
        .remove(FieldIdKey).build())
    })
  }

  /** The declared schema evolution surface shared by rename/drop:
    * resolve the table's declared schema (footer fallback for pre-v3
    * stores, like [[addColumn]]) and commit a pure-metadata schema
    * update through the optimistic loop. */
  private def evolveSchema(spark: SparkSession, path: String, table: String,
      op: String)(
      evolve: (StoreManifest.Snapshot, org.apache.spark.sql.types.StructType)
        => (org.apache.spark.sql.types.StructType, Map[String, String])): Unit = {
    requireManifest(spark, path, op)
    require(table == "base",
      s"rename/drop apply to the base table's evolved columns; cascade " +
        s"and sidecar shapes are the layout's contract, not a schema patch")
    val fs = fsOf(spark, path)
    StoreManifest.publishOptimistic(fs, path, tornGraceMs(spark)) { snap =>
      require(snap.entries.keys.exists(_._1 == table),
        s"no live table '$table' at $path")
      val cur = snap.schemas.get(table)
        .map(j => org.apache.spark.sql.types.DataType.fromJson(j)
          .asInstanceOf[org.apache.spark.sql.types.StructType])
        .getOrElse {
          val rel = snap.entries.collectFirst { case ((`table`, _), r) => r }.get
          spark.read.parquet(s"$path/$rel").schema
        }
      val (next, props) = evolve(snap, cur)
      Some(StoreManifest.Mutation(
        entries = snap.entries, stats = snap.stats, files = snap.files,
        schemas = snap.schemas.updated(table, withFieldIds(next).json),
        op = op, propSets = props))
    }
    touchDataStamp(spark, path)
  }

  /** RENAME an evolved column as a PURE METADATA commit (round 17,
    * VERDICT r16 missing #2): the declared field keeps its id and
    * type, takes the new name, and records the old one in its
    * physical-name history — no data file is touched (every table
    * manifest is reused verbatim). Reads resolve old segments through
    * the history: manifestRead requests each historical name as a
    * ghost column and coalesces into the current name (a file holds
    * exactly ONE of the names — the no-reuse rule below — so the
    * coalesce is exact); writes from then on carry the new name, and
    * any partition rewrite folds the rename physically. The old name
    * stays reserved on this table (enforced against [[addColumn]] and
    * re-renames) because pre-id files can only be resolved by name —
    * see [[withFieldIds]]. Old snapshots time-travel-read under THEIR
    * declared schema, old name included. */
  def renameColumn(spark: SparkSession, path: String, table: String,
                   oldName: String, newName: String): Unit =
    evolveSchema(spark, path, table, "renameColumn") { (snap, cur) =>
      require(!CanonicalCols.contains(oldName),
        s"'$oldName' is a canonical store column — the fetch surface " +
          "and cascade builds read it by name; renaming it is a layout " +
          "change, not a schema patch")
      require(!newName.equalsIgnoreCase("dt") &&
          !CanonicalCols.exists(_.equalsIgnoreCase(newName)),
        s"'$newName' collides with a canonical store column")
      val f = cur.fields.find(_.name == oldName).getOrElse(
        throw new IllegalArgumentException(
          s"no column '$oldName' on '$table' (${cur.fieldNames.mkString(", ")})"))
      require(!(namesInUse(cur) - oldName.toLowerCase)
          .contains(newName.toLowerCase),
        s"column name '$newName' is already in use on '$table' " +
          "(current or historical, case-insensitively)")
      require(!droppedNames(snap, table).contains(newName.toLowerCase),
        s"column name '$newName' was dropped from '$table' and old " +
          "segments still carry it — pick a fresh name")
      import org.apache.spark.sql.types._
      val renamed = f.copy(name = newName,
        metadata = new MetadataBuilder().withMetadata(f.metadata)
          .putStringArray(PhysNamesKey, (physNames(f) :+ oldName).toArray)
          .build())
      (StructType(cur.fields.map(x => if (x.name == oldName) renamed else x)),
        Map.empty)
    }

  /** DROP an evolved column as a PURE METADATA commit: the field
    * leaves the declared schema (readers simply never request it from
    * any vintage's files), and its name — plus its whole rename
    * history — is tombstoned in the `dropped:<table>` snapshot prop
    * so [[addColumn]]/[[renameColumn]] can never re-introduce a name
    * old segments still physically carry (which the name-history read
    * path would wrongly resurrect; per-file id resolution lifts this
    * once pre-id segments age out — [[withFieldIds]]). Old snapshots
    * time-travel-read under their schema, column included; partition
    * rewrites physically shed the column as a side effect of writing
    * the declared shape. */
  def dropColumn(spark: SparkSession, path: String, table: String,
                 name: String): Unit =
    evolveSchema(spark, path, table, "dropColumn") { (snap, cur) =>
      require(!CanonicalCols.contains(name),
        s"'$name' is a canonical store column — the store's row shape, " +
          "not an evolved column; dropping it is a layout change")
      val f = cur.fields.find(_.name == name).getOrElse(
        throw new IllegalArgumentException(
          s"no column '$name' on '$table' (${cur.fieldNames.mkString(", ")})"))
      import org.apache.spark.sql.types._
      val retired = (droppedNames(snap, table) ++
        (f.name +: physNames(f)).map(_.toLowerCase))
        .toSeq.sorted.map(n => java.net.URLEncoder.encode(n, "UTF-8"))
      (StructType(cur.fields.filterNot(_.name == name)),
        Map(droppedKey(table) -> retired.mkString(",")))
    }

  /** Commit HISTORY of a manifest store — the operational "what
    * happened to this table" view (the DESCRIBE HISTORY of the
    * snapshot-log lineage): one row per RETAINED snapshot, newest
    * first, with the committing operation, its wall-clock stamp, the
    * live entry/table counts, and the total live bytes where the
    * entries carry stats. Rounds older than the op-stamping release
    * (or hand-published snapshots) show a NULL op. Reads manifests
    * only — never data files; vacuum trims history together with the
    * snapshots it deletes. */
  def history(spark: SparkSession, path: String): DataFrame = {
    requireManifest(spark, path, "history")
    val fs = fsOf(spark, path)
    val rows = StoreManifest.versions(fs, path).flatMap { v =>
      StoreManifest.tryLoad(fs, path, v).map { s =>
        val bytes = s.stats.values.flatMap(_.bytes)
        (s.version,
          s.props.get("op").orNull,
          s.props.get("committed_ms").flatMap(_.toLongOption)
            .map(java.lang.Long.valueOf).orNull,
          s.entries.size,
          s.entries.keys.map(_._1).toSet.size,
          if (bytes.isEmpty) null
          else java.lang.Long.valueOf(bytes.sum))
      }
    }.sortBy(-_._1)
    import spark.implicits._
    rows.toDF("version", "op", "committed_ms", "n_entries",
      "n_tables", "live_bytes")
  }

  /** The torn-manifest clearing grace [[StoreManifest.publish]] and
    * [[StoreManifest.vacuum]] apply (ADVICE r14 #2) — configurable so
    * tests and fast-restart deployments can tighten it. */
  private def tornGraceMs(spark: SparkSession): Long =
    spark.conf.get("spark.graft.manifest.tornGraceMs",
      StoreManifest.DefaultTornGraceMs.toString).toLong

  /** Read `table` from an explicit manifest snapshot as ONE parquet
    * relation: the manifest IS the partition catalog, so the (dt →
    * segment dir) map is handed to the planner as an explicit
    * `PartitionSpec` ([[org.apache.spark.sql.graftshim.PartitionedRelationBridge]])
    * — no Hive-style discovery (segment parents differ per mutation,
    * which discovery rejects), no per-segment union (which fragments
    * codegen and hides the store from plan rewrites like
    * [[graft.plans.RollupSubstitution]]). dt partition pruning behaves
    * exactly as for a directory-discovered table.
    *
    * Manifest resolution is itself driver-side partition pruning: only
    * LIVE partitions ever reach the file index. `bounds` prunes
    * further — BEFORE any filesystem listing — using the snapshot's
    * per-entry time statistics (`[lo, hi)` in [[timeColOf]]'s native
    * unit): an entry whose recorded [tmin, tmax] provably misses the
    * range is dropped without ever being listed, the Iceberg-style
    * manifest skip a 100 TB store needs when a year of partitions is
    * live but the dashboard wants two days. Entries without stats
    * (format-v1 manifests) are always kept — stats only ever SKIP
    * provably-disjoint data.
    *
    * `series` (round 16, VERDICT r15 missing #1) prunes at FILE level
    * using the v3 manifest's per-file statistics: each requested key
    * is an optional (user_id, event_type) equality pair, and a file
    * whose recorded series-key bounds exclude EVERY requested key is
    * dropped before the file index ever sees it — the surviving files
    * are handed to the planner EXPLICITLY, so a one-series fetch on a
    * store whose partitions hold thousands of range-clustered files
    * neither lists the partition directories nor opens excluded
    * footers. The reference's file-per-var addressing [pub: tsdb
    * TSDBVar — unverified, SURVEY.md §0] re-expressed as manifest skip
    * data. File pruning engages only on ranged/filtered reads (bounds
    * or series present): whole-table plan-level reads keep DIRECTORY
    * roots, which is the shape [[graft.plans.RollupSubstitution]]'s
    * live-set-equality guard matches against. Entries without file
    * stats (v1/v2 manifests, stat-less writers) fall back to listing
    * their directory — skipping is always provably-safe-only. */
  private def manifestRead(spark: SparkSession, path: String,
                           layout: StoreLayout,
                           snap: StoreManifest.Snapshot,
                           table: String,
                           bounds: Option[(Long, Long)] = None,
                           dataSchemaHint: Option[org.apache.spark.sql.types.StructType] = None,
                           series: Option[Seq[(Option[Long], Option[String])]] = None): DataFrame = {
    import org.apache.spark.sql.types._
    val live = snap.entries.collect {
      case ((t, dt), rel) if t == table => (dt, rel)
    }
    require(live.nonEmpty || snap.tableManifests.keys.exists(_._1 == table),
      s"manifest store at $path has no live data for table '$table'")
    val declared = dataSchemaHint.orElse(snap.schemas.get(table).map(j =>
      DataType.fromJson(j).asInstanceOf[StructType]))
    if (live.isEmpty) {
      // band-pruned resolution proved every live band outside the
      // request: typed empty relation from the declared schema (always
      // stamped on v3+ stores, the only kind with prunable pointers)
      val dtF =
        if (layout.monthly) StructField("dt", StringType)
        else StructField("dt", DateType)
      return spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](),
        stripFieldIds(declared.getOrElse(throw new IllegalStateException(
          s"band-pruned read of '$table' at $path found no declared " +
            "schema — v4 banded manifests always stamp one"))).add(dtF))
    }
    if (live.size == 1 && live.head._1 == StoreManifest.NoDt) {
      val r = spark.read
      return declared.fold(r)(s => r.schema(s))
        .parquet(s"$path/${live.head._2}")
    }
    val kept = bounds match {
      case Some((lo, hi)) => live.filter { case (dt, _) =>
        !snap.stats.get((table, dt)).exists(_.disjointFrom(lo, hi))
      }
      case None => live
    }
    val dtField =
      if (layout.monthly) StructField("dt", StringType)
      else StructField("dt", DateType)
    val pruneFiles = bounds.isDefined || series.isDefined
    val parts = kept.toSeq.sortBy(_._1).map { case (dt, rel) =>
      val value =
        if (layout.monthly)
          org.apache.spark.unsafe.types.UTF8String.fromString(dt)
        else java.lang.Integer.valueOf(LocalDate.parse(dt).toEpochDay.toInt)
      val dir = new org.apache.hadoop.fs.Path(s"$path/$rel")
      val explicit =
        if (!pruneFiles) None
        else snap.files.get((table, dt)).filter(_.nonEmpty).map { fls =>
          fls.filter { f =>
            bounds.forall { case (lo, hi) => !f.disjointFromTime(lo, hi) } &&
              series.forall(_.exists(k => f.mayMatchSeries(k._1, k._2)))
          }.map(f => new org.apache.hadoop.fs.Path(dir, f.name))
        }
      (org.apache.spark.sql.catalyst.InternalRow(value), dir, explicit)
    }.filter { case (_, _, explicit) =>
      explicit.forall(_.nonEmpty) // every file provably excluded ⇒ drop the partition whole
    }
    if (parts.isEmpty) {
      // every live partition is provably outside the request: serve
      // the correctly-typed empty relation without listing anything
      val schema = stripFieldIds(declared
        .getOrElse(spark.read.parquet(s"$path/${live.head._2}").schema))
        .add(dtField)
      return spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](), schema)
    }
    // declared schema from the snapshot (v3), the optimizer's cached
    // copy (hint), or one partition's footer (v1/v2 fallback — every
    // segment of a table is written by the same normalize/cascade path).
    // Field ids are STRIPPED for the read: Spark's id-resolving parquet
    // reader refuses (or nulls) the store's pre-evolution id-less
    // files instead of falling back to names, so every read resolves
    // by name-history uniformly ([[withFieldIds]]); the ids still ride
    // in the written files for a future id-resolving reader.
    val resolved = stripFieldIds(declared
      .getOrElse(spark.read.parquet(parts.head._2.toString).schema))
    // rename-aware resolution (round 17): a field renamed by
    // renameColumn records its former physical names — request each as
    // a GHOST column (parquet null-completes it in files that carry
    // the current name, and vice versa; the no-reuse rule guarantees a
    // file holds exactly one of the names) and coalesce newest-first
    // into the current name. One relation, no per-vintage dispatch,
    // and the projection stays inside whole-stage codegen.
    val renamedFields = resolved.fields.filter(f => physNames(f).nonEmpty)
    val ghosts = renamedFields.flatMap(f => physNames(f).map(h =>
      StructField(h, f.dataType, nullable = true)))
    val dataSchema =
      if (ghosts.isEmpty) resolved else StructType(resolved.fields ++ ghosts)
    val df0 = org.apache.spark.sql.graftshim.PartitionedRelationBridge.dataFrameWithFiles(
      spark, StructType(Seq(dtField)), parts, dataSchema)
    val df =
      if (ghosts.isEmpty) df0
      else renamedFields.foldLeft(df0) { (d, f) =>
        d.withColumn(f.name,
          coalesce((f.name +: physNames(f).reverse).map(col): _*))
      }.drop(ghosts.map(_.name).toIndexedSeq: _*)
    // merge-on-read deletes (round 17): partitions carrying del refs
    // read through the anti-filter — EVERY fetch/maintenance path
    // flows through here, so rewrites fold deletes by construction
    val keptDels = kept.toSeq.sortBy(_._1).flatMap { case (dt, _) =>
      snap.dels.getOrElse((table, dt), Seq.empty).map(_ -> dt) }
    applyDeleteFilter(spark, path, layout, df, keptDels, kept.map(_._1).toSet)
  }

  /** Apply a partition set's merge-on-read delete refs to its scan
    * ([[StoreManifest]] `del` lines): load the referenced delete
    * files' series keys (driver-side, cached — delete sets are
    * metadata-sized erasure requests) and anti-filter the rows.
    *
    * Scope is PER-PARTITION, not global (round-17 self-review catch):
    * a ref deletes keys only from the partitions it is ATTACHED to. A
    * post-delete upsert that re-adds a deleted key rewrites its
    * partition through the filter — folding the old rows and dropping
    * THAT partition's refs — so its new rows must read back even
    * while other partitions still carry the ref; a filter keyed on
    * the union of all kept refs would wrongly erase them (the same
    * hazard Iceberg sequence-numbers its equality deletes for). When
    * a ref is attached to every kept partition — the
    * freshly-committed common case — its dt guard drops out entirely.
    *
    * Small key sets inline as a codegen'd NOT-predicate — it stays
    * inside the scan's WholeStageCodegen and its user_id bounds push
    * into parquet row-group pruning, where an anti-join node would
    * not; past `spark.graft.store.deleteInlineMax` keys (default 256)
    * the filter becomes a broadcast LEFT ANTI join on (user_id,
    * event_type, dt) so a massive takedown list never builds a
    * megabyte predicate tree. */
  private def applyDeleteFilter(spark: SparkSession, path: String,
                                layout: StoreLayout, df: DataFrame,
                                refDts: Seq[(String, String)],
                                keptDts: Set[String]): DataFrame = {
    if (refDts.isEmpty) return df
    val fs = fsOf(spark, path)
    // ref → the kept partitions it attaches to, then per (key, scope)
    val byRef: Seq[(String, Seq[String])] = refDts.groupBy(_._1).view
      .mapValues(_.map(_._2).distinct.sorted).toSeq.sortBy(_._1)
    val keys: Seq[(Long, String, Seq[String])] = byRef.flatMap {
      case (r, dts) =>
        StoreManifest.loadDeleteFile(fs, path, r).map(k => (k._1, k._2, dts))
    }
    val inlineMax =
      spark.conf.get("spark.graft.store.deleteInlineMax", "256").toInt
    if (keys.size <= inlineMax) {
      val pred = keys.map { case (uid, et, dts) =>
        val keyPred =
          col("user_id") === lit(uid) && col("event_type") === lit(et)
        if (dts.toSet == keptDts) keyPred // attached everywhere: no dt guard
        else keyPred && col("dt").isin(dtLits(layout, dts): _*)
      }.reduce(_ || _)
      df.filter(!pred)
    } else {
      import spark.implicits._
      val delDf = keys.flatMap { case (uid, et, dts) =>
        dts.map(dt => (uid, et, dt)) }.toDF("user_id", "event_type", "_del_dt")
      df.join(broadcast(delDf),
        df("user_id") === delDf("user_id") &&
          df("event_type") === delDf("event_type") &&
          df("dt").cast("string") === delDf("_del_dt"),
        "left_anti")
    }
  }

  /** [[manifestRead]] against an ALREADY-RESOLVED snapshot — the
    * optimizer's entry point ([[graft.plans.RollupSubstitution]] reads
    * the cascade under the same snapshot protocol as the base scan it
    * substitutes, with its content-stamp-cached snapshot and schema). */
  private[graft] def readSnapshotTable(spark: SparkSession, path: String,
      layout: StoreLayout, snap: StoreManifest.Snapshot, table: String,
      dataSchemaHint: Option[org.apache.spark.sql.types.StructType]): DataFrame =
    manifestRead(spark, path, layout, snap, table,
      bounds = None, dataSchemaHint = dataSchemaHint)

  /** The one table-read entry point every fetch/maintenance path goes
    * through: a plain directory read on the rename layout, manifest
    * resolution on the manifest layout. Package-visible so the chaos
    * harness can diff manifest-store tables against a virgin rebuild. */
  private[graft] def readTable(spark: SparkSession, path: String,
                               meta: StoreMeta, table: String): DataFrame =
    readTableRange(spark, path, meta, table, None)

  /** [[readTable]] under the store's own (cached) metadata. */
  private[graft] def readTable(spark: SparkSession, path: String,
                               table: String): DataFrame =
    readTable(spark, path, storeMeta(spark, path), table)

  /** [[readTable]] under an explicit layout, uncached: a rename-layout
    * read infers its schema, as a plain `spark.read.parquet` would. */
  private[graft] def readTable(spark: SparkSession, path: String,
                               layout: StoreLayout, table: String): DataFrame =
    readTable(spark, path, new StoreMeta(-1L, "", layout), table)

  /** [[readTable]] with a time-range hint `[lo, hi)` in the table's
    * native time unit ([[timeColOf]]) and an optional series-key hint
    * (requested (user_id, event_type) equality pairs, each side
    * optional): on the manifest layout the snapshot's per-entry
    * statistics drop provably-disjoint partitions BEFORE any file
    * listing, and the per-file statistics then drop provably-excluded
    * FILES before the index sees them ([[manifestRead]]). Purely
    * optimization hints — the caller still applies its own row-level
    * filters. `atVersion` reads a RETAINED snapshot instead of the
    * live one (time travel — [[readTableAt]] semantics inside the
    * fetch surface). */
  private def readTableRange(spark: SparkSession, path: String,
                             meta: StoreMeta, table: String,
                             bounds: Option[(Long, Long)],
                             atVersion: Option[Long] = None,
                             series: Option[Seq[(Option[Long], Option[String])]] = None): DataFrame =
    if (meta.layout.commit == "manifest") {
      val fs = fsOf(spark, path)
      val snap = (atVersion, bounds) match {
        case (Some(v), _) => StoreManifest.loadAt(fs, path, v)
        case (None, Some((lo, hi))) =>
          // BAND-pruned resolution (v4): parse only the target table's
          // band manifests whose calendar month can hold rows in
          // [lo, hi) — a two-day fetch against a ten-year store parses
          // one or two bands, not every live band. Provably safe: a
          // row's dt is derived from its time (UTC integer math), so
          // its band IS its time's month; ±1 day of slack absorbs the
          // native-unit conversion edges. Whole-table (v3) and sidecar
          // pointers always load.
          val toSec = if (timeColOf(table) == "slot_ts") 1L else 1000000L
          def monthOf(sec: Long): String =
            java.time.LocalDate.ofEpochDay(Math.floorDiv(sec, 86400L))
              .toString.take(7)
          val lom = monthOf(Math.floorDiv(lo, toSec) - 86400L)
          val him = monthOf(Math.floorDiv(hi, toSec) + 86400L)
          StoreManifest.loadPruned(fs, path, { case (t, b) =>
            t == table && (b == StoreManifest.WholeTable ||
              b == StoreManifest.NoDt || (lom <= b && b <= him))
          })
        case _ => StoreManifest.load(fs, path)
      }
      manifestRead(spark, path, meta.layout, snap, table, bounds, None, series)
    } else {
      require(atVersion.isEmpty,
        s"time travel needs the manifest layout; the store at $path " +
          "uses rename commits")
      spark.read.schema(tableSchema(spark, path, meta, table)).parquet(s"$path/$table")
    }

  /** A rename-layout table's schema (its `dt` partition column
    * included) from the stamped metadata cache: the directory read
    * then lists its files but runs no schema-inference job. */
  private[graft] def tableSchema(spark: SparkSession, path: String, meta: StoreMeta,
                                 table: String): org.apache.spark.sql.types.StructType =
    meta.schema(table)(spark.read.parquet(s"$path/$table").schema)

  /** Retained snapshot versions of a manifest store, ascending — the
    * read points [[readTableAt]] accepts. Only the newest is the live
    * state; older ones survive until [[vacuum]] trims past its
    * `keepManifests` (default 2 ⇒ one step of history). COMPLETE
    * (committed) versions only (ADVICE r15 #3: the raw
    * [[StoreManifest.versions]] listing deliberately includes torn,
    * never-committed files so publish/vacuum can manage them — but
    * every version THIS public API returns must actually be readable,
    * and a caller selecting `versions.init.last` on a store with a
    * crashed commit would otherwise pick a torn file [[readTableAt]]
    * then throws on). */
  def snapshotVersions(spark: SparkSession, path: String): Seq[Long] = {
    requireManifest(spark, path, "snapshotVersions")
    val fs = fsOf(spark, path)
    StoreManifest.versions(fs, path)
      .filter(v => StoreManifest.tryLoad(fs, path, v).isDefined)
  }

  /** TIME-TRAVEL read: `table` exactly as snapshot `version` committed
    * it. Free by construction on the manifest layout — data files are
    * write-once and deletion is logical until vacuum, so an old
    * snapshot is just an alternative (table, dt) → segment-dir map
    * over files that still exist. The read plan is identical to the
    * live read's (per-segment pruned scans); audits, incident
    * forensics ("what did the dashboard serve before the upsert?"),
    * and reproducible training-data snapshots at 100 TB all read this
    * way instead of restoring backups. Fails loudly on a vacuumed
    * version, listing what is retained. */
  def readTableAt(spark: SparkSession, path: String, table: String,
                  version: Long): DataFrame = {
    val layout = requireManifest(spark, path, "readTableAt")
    manifestRead(spark, path, layout,
      StoreManifest.loadAt(fsOf(spark, path), path, version), table)
  }

  // ---- ingest ---------------------------------------------------------

  /** events-shaped feed → the store's row shape, with the dt partition
    * key derived from the timestamp (integer UTC math). `extras` are
    * the base table's EVOLVED columns beyond the canonical five
    * ([[addColumn]] — manifest layout only): each is taken from the
    * input when present (cast to its declared type) and
    * null-completed otherwise, so pre-evolution feeds keep working
    * against an evolved store. */
  private def normalize(events: DataFrame, layout: StoreLayout,
                        extras: Seq[org.apache.spark.sql.types.StructField] = Seq.empty): DataFrame = {
    val extraCols = extras.map { f =>
      // .as(name, metadata) carries the field's evolution identity
      // (parquet.field.id, rename history) into the written files
      if (events.columns.contains(f.name))
        col(f.name).cast(f.dataType).as(f.name, f.metadata)
      else lit(null).cast(f.dataType).as(f.name, f.metadata)
    }
    events
      .select(col("user_id") +: col("event_type") +: col("event_id") +:
        unix_micros(col("ts")).as("ts_us") +:
        expr("CAST(round(value*100) AS BIGINT)").as("cents") +:
        extraCols: _*)
      .withColumn("dt", dtFromTsUs(layout))
  }

  /** The base table's canonical column order plus its evolved extras
    * (dt last — the partition key). */
  private def baseCols(extras: Seq[org.apache.spark.sql.types.StructField]): Seq[String] =
    Seq("user_id", "event_type", "event_id", "ts_us", "cents") ++
      extras.map(_.name) :+ "dt"

  /** Evolved columns a snapshot declares for `table` beyond the
    * canonical store shape ([[addColumn]]): the declared schema minus
    * the columns the written files always carry. Empty when the
    * snapshot carries no schema (v1/v2 manifests, rename layout). */
  private def declaredExtras(snap: StoreManifest.Snapshot,
                             table: String): Seq[org.apache.spark.sql.types.StructField] =
    snap.schemas.get(table).map { j =>
      val canonical = Set("user_id", "event_type", "event_id", "ts_us", "cents", "dt")
      org.apache.spark.sql.types.DataType.fromJson(j)
        .asInstanceOf[org.apache.spark.sql.types.StructType]
        .fields.filterNot(f => canonical.contains(f.name)).toSeq
    }.getOrElse(Seq.empty)

  /** Wrap-corrected, heartbeat-validated counter deltas over the stored
    * sample column — the SAME expression tree as the declared
    * `q_ts_rate_counter` / `q_ts_delta_sum` queries (TimeSeriesOps),
    * applied to the store's rows. One window exchange per recompute;
    * with the bucketed layout option it disappears. */
  private def validDeltas(base: DataFrame, heartbeatSec: Long): DataFrame = {
    val cap = graft.Tables.WrapCap
    val w = Window.partitionBy("user_id", "event_type").orderBy("ts_us", "event_id")
    base
      .withColumn("prev_cents", lag("cents", 1).over(w))
      .withColumn("prev_ts_us", lag("ts_us", 1).over(w))
      .withColumn("dt_us", col("ts_us") - col("prev_ts_us"))
      .withColumn("delta_cents",
        ((col("cents") - col("prev_cents")) % cap + cap) % cap)
      .filter(col("prev_ts_us").isNotNull &&
        col("dt_us") <= heartbeatSec * 1000000L)
  }

  /** Finest-level rate aggregate: per (series, slot) count of valid
    * deltas + exact integer sums of delta and elapsed time. Coarser
    * levels are cell-wise sums (exact monoid). */
  private def rateAggFromDeltas(deltas: DataFrame, stepSec: Long): DataFrame =
    deltas.groupBy(col("user_id"), col("event_type"),
        TimeSeriesOps.slotSec(stepSec).as("slot_ts"))
      .agg(count(lit(1)).as("n_valid"), sum("delta_cents").as("delta_cents"),
        sum("dt_us").as("dt_us"))

  private def rateAggCoarser(fine: DataFrame, coarseSec: Long): DataFrame =
    fine.groupBy(col("user_id"), col("event_type"),
        (expr(s"slot_ts div $coarseSec") * coarseSec).as("slot_ts"))
      .agg(sum("n_valid").as("n_valid"), sum("delta_cents").as("delta_cents"),
        sum("dt_us").as("dt_us"))

  private def valueAggCoarser(fine: DataFrame, coarseSec: Long): DataFrame =
    fine.groupBy(col("user_id"), col("event_type"),
        (expr(s"slot_ts div $coarseSec") * coarseSec).as("slot_ts"))
      .agg(sum("n").as("n"), sum("sum_cents").as("sum_cents"),
        min("min_cents").as("min_cents"), max("max_cents").as("max_cents"),
        // endpoint pair: lexicographic struct min/max — a coarse cell's
        // first/last IS the min/max of its fine cells' firsts/lasts
        min("first").as("first"), max("last").as("last"))

  /** Finest-level quantile sketch: a bottom-k (priority, value) buffer
    * per (series, slot) — the QUANTILE column family the monoid four
    * can't provide. Priorities hash the full row address so any later
    * cross-slot (or cross-series) merge keeps distinct rows distinct;
    * values are cents as doubles. The buffer is a semilattice
    * ([[graft.functions.BottomKSample]]), so merged stored sketches
    * are bit-identical to a sketch built over the raw rows directly —
    * materialization is transparent to every read, and below K=512
    * rows per evaluated cell the "sketch" holds every sample and
    * nearest-rank reads are EXACT. */
  private def quantAggFromBase(base: DataFrame, stepSec: Long): DataFrame = {
    val st = udaf(new graft.functions.BottomKState)
    base
      .select(col("user_id"), col("event_type"),
        TimeSeriesOps.slotSec(stepSec).as("slot_ts"),
        xxhash64(col("user_id"), col("event_type"), col("event_id")).as("pri"),
        col("cents").cast("double").as("v"))
      .groupBy("user_id", "event_type", "slot_ts")
      .agg(st(col("pri"), col("v")).as("sk"))
      .select(col("user_id"), col("event_type"), col("slot_ts"),
        col("sk.pri").as("pri"), col("sk.value").as("value"))
  }

  /** Coarser quantile level: semilattice merge of the finer level's
    * stored buffers (never re-scans raw). */
  private def quantAggCoarser(fine: DataFrame, coarseSec: Long): DataFrame = {
    val ms = udaf(new graft.functions.BottomKMergeState)
    fine.groupBy(col("user_id"), col("event_type"),
        (expr(s"slot_ts div $coarseSec") * coarseSec).as("slot_ts"))
      .agg(ms(col("pri"), col("value")).as("sk"))
      .select(col("user_id"), col("event_type"), col("slot_ts"),
        col("sk.pri").as("pri"), col("sk.value").as("value"))
  }

  /** Catalog name for the bucketed base table of a store path. 64-bit
    * SHA-256 prefix, not `String.hashCode`: two store paths colliding
    * on a 32-bit hash would silently serve each other's data through
    * the catalog-reuse check in [[bucketedBaseTable]] (ADVICE r4). */
  private def tableNameFor(path: String): String = {
    val digest = java.security.MessageDigest.getInstance("SHA-256")
      .digest(path.getBytes("UTF-8"))
    "graft_base_" + digest.take(8).map(b => f"$b%02x").mkString
  }

  /** Cascade-maintenance jobs must never have their own base-table
    * reads substituted onto the very agg tables they are rewriting
    * ([[graft.plans.RollupSubstitution]]): force the rewrite flag off
    * for the duration of any maintenance entry point. */
  private def withRollupRewriteOff[A](spark: SparkSession)(body: => A): A = {
    val key = "spark.graft.rollup.rewrite"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    try body finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** Batch ingest: normalize an events-shaped feed into the base
    * measurements table (partitioned by dt, optionally series-bucketed)
    * + the value, quantile and rate cascades ([[buildCascades]]). */
  def ingest(spark: SparkSession, events: DataFrame, path: String,
             layout: StoreLayout = StoreLayout()): Unit = withRollupRewriteOff(spark) {
    if (layout.commit == "manifest") {
      // whole-store build into one fresh segment, committed by a single
      // manifest create: readers see the OLD store (or none) until the
      // base AND every cascade level have fully landed — full ingest is
      // atomic here, where the rename layout exposes table-at-a-time.
      // publishOptimistic: a conflicting concurrent commit re-runs the
      // build against the new snapshot (a full ingest replaces every
      // data table, so it can never rebase past another data mutation)
      val fs = fsOf(spark, path)
      writeLayout(spark, path, layout)
      StoreManifest.publishOptimistic(fs, path, tornGraceMs(spark)) { prev =>
        // a RE-ingest of an evolved store keeps the declared evolved
        // columns (ADVICE r16 #3: normalizing without them silently
        // reverted addColumn — the column vanished from both schema
        // and data even when the incoming feed carried it)
        val m = normalize(events, layout, declaredExtras(prev, "base"))
        val seg = StoreManifest.newSegId()
        val segBase = StoreManifest.segTableDir(path, seg, "base")
        if (layout.buckets > 0) {
          // bucketed base INSIDE the write-once segment (round 15): the
          // bucket-id file naming needs a catalog write, so the data
          // lands via a throwaway external-table registration whose
          // files stay when it is dropped; the DURABLE catalog identity
          // is per-snapshot ([[bucketedBaseTable]] registers the live
          // partition locations at resolve time)
          val tmp = tableNameFor(path) + "_ingest_tmp"
          spark.sql(s"DROP TABLE IF EXISTS $tmp")
          m.write.mode(SaveMode.Overwrite)
            .option("compression", "zstd").option("path", segBase)
            .partitionBy("dt")
            .bucketBy(layout.buckets, "user_id", "event_type")
            .sortBy("user_id", "event_type", "ts_us")
            .saveAsTable(tmp)
          spark.sql(s"DROP TABLE $tmp")
        } else writeTable(m, "base", segBase)
        buildCascades(spark, s"$path/_segs/$seg", layout)
        Some(rebuiltStore(spark, path, layout, prev, seg, "ingest"))
      }
      touchDataStamp(spark, path)
      return
    }
    val m = normalize(events, layout) // rename layout: no schema-in-snapshot, no evolution
    if (layout.buckets > 0) {
      // Hive-bucketed layout: per-series windows / joins read
      // pre-clustered buckets (no exchange); the files under
      // $path/base remain plain-parquet-readable for every other path
      val name = tableNameFor(path)
      spark.sql(s"DROP TABLE IF EXISTS $name")
      m.write.mode(SaveMode.Overwrite)
        .option("compression", "zstd").option("path", s"$path/base")
        .partitionBy("dt")
        .bucketBy(layout.buckets, "user_id", "event_type")
        .sortBy("user_id", "event_type", "ts_us")
        .saveAsTable(name)
    } else writeTable(m, "base", s"$path/base")
    writeLayout(spark, path, layout)
    buildCascades(spark, path, layout)
    touchDataStamp(spark, path)
  }

  /** The commit of a whole-store rebuild ([[ingest]], [[upsert]]) whose
    * base and cascades were written to segment `seg`: every data table
    * moves to the segment, while the metadata sidecar (append-only as-of
    * history, like deleteSeries), its schema and the snapshot
    * properties (streaming high-water marks ride propSets-free
    * carry-over) are preserved from `prev`. */
  private def rebuiltStore(spark: SparkSession, path: String, layout: StoreLayout,
                           prev: StoreManifest.Snapshot, seg: String,
                           op: String): StoreManifest.Mutation = {
    val fs = fsOf(spark, path)
    val fresh = segFresh(fs, path, layout, seg)
    val h = segStats(fs, path, fresh)
    StoreManifest.Mutation(
      entries = prev.entries.filter(_._1._1 == "meta") ++ fresh,
      stats = prev.stats.view.filterKeys(_._1 == "meta").toMap ++ h.stats,
      files = prev.files.view.filterKeys(_._1 == "meta").toMap ++ h.files,
      schemas = prev.schemas.view.filterKeys(_ == "meta").toMap ++
        segSchemas(spark, path, fresh, prev),
      op = op, dtAdjacency = adjacencyOf(layout))
  }

  /** Every partition segment `seg` holds, over all of the store's data
    * tables. */
  private def segFresh(fs: org.apache.hadoop.fs.FileSystem, path: String,
                       layout: StoreLayout, seg: String): Map[(String, String), String] =
    storeTables(layout).flatMap(t => StoreManifest.segEntries(fs, path, seg, t)).toMap

  /** GLOBAL range clustering on (dt, series, time) for every
    * plain-parquet store-table write (round 16; ingest previously only
    * sorted WITHIN arbitrary input partitions): each output task gets
    * a contiguous slice of the (dt, user_id, event_type, time) order,
    * so within a dt partition the files carry tight, near-disjoint
    * series-key ranges — which is what makes the manifest's per-file
    * user_id/event_type statistics selective (a one-series fetch
    * skips all but ~one file per partition) and keeps parquet
    * row-group pruning sharp across files, not just within them. Costs
    * one range exchange per table write AT MUTATION TIME — paid once,
    * amortized over every later fetch; at 100 TB this is the
    * write-side investment that turns the per-file stats from
    * advisory into decisive. */
  private def clusteredByDt(df: DataFrame, timeCol: String): DataFrame =
    df.repartitionByRange(col("dt"), col("user_id"), col("event_type"), col(timeCol))
      .sortWithinPartitions("dt", "user_id", "event_type", timeCol)

  /** The one write of a dt-partitioned store table into its directory
    * `dir` (`<store>/<table>` on the rename layout, a segment's table
    * dir on the manifest layout): [[clusteredByDt]] on the table's
    * time column, overwrite, zstd — so a partition's file layout and
    * codec never depend on which writer last touched it. */
  private def writeTable(df: DataFrame, table: String, dir: String): Unit =
    clusteredByDt(df, timeColOf(table))
      .write.mode(SaveMode.Overwrite).option("compression", "zstd")
      .partitionBy("dt").parquet(dir)

  /** The one cascade walker: derives the value (`agg_`), quantile
    * (`quant_`, unless the layout opts out) and rate (`rate_`) families
    * at every step and hands each level, with its `dt` column, to
    * `emit(table, frame)` — [[buildCascades]] emits whole-table writes,
    * [[upsertIncremental]] touched-partition rewrites.
    *
    * The finest value and quantile levels come from `base`. The finest
    * rate level comes from the wrap-corrected counter deltas of
    * `window`, keeping only the deltas whose own partition `rateDts`
    * names (None keeps all): a partial rewrite's window adds each
    * partition's predecessor, whose last sample feeds the first delta.
    * Each coarser level comes from its finer level's PERSISTED frame,
    * never from a re-read of what `emit` wrote (which would pay a
    * schema inference, and fail on a legitimately empty level). */
  private def walkCascades(layout: StoreLayout, base: DataFrame, window: DataFrame,
                           rateDts: Option[Seq[String]])(
                           emit: (String, DataFrame) => Unit): Unit = {
    def chain(family: String, finest: DataFrame,
              coarser: (DataFrame, Long) => DataFrame): Unit =
      layout.steps.foldLeft(Option.empty[DataFrame]) { (fine, step) =>
        val level = fine.fold(finest)(coarser(_, step))
        // computed once for its own write and the next level's derivation
        if (step != layout.steps.last) level.persist()
        emit(s"${family}_$step", level.withColumn("dt", dtFromSlot(layout)))
        fine.foreach(_.unpersist())
        Some(level)
      }
    chain("agg", TimeSeriesOps.downsampleWide(base, layout.steps.head), valueAggCoarser)
    if (layout.quantiles)
      chain("quant", quantAggFromBase(base, layout.steps.head), quantAggCoarser)
    val deltas = validDeltas(window, layout.heartbeatSec)
    chain("rate", rateAggFromDeltas(rateDts.fold(deltas)(dts =>
        deltas.filter(col("dt").isin(dtLits(layout, dts): _*))), layout.steps.head),
      rateAggCoarser)
  }

  /** (Re)build every derived table from the CURRENT `$root/base` —
    * ingest's second half, shared with [[upsert]]'s full rebuild: the
    * [[walkCascades]] walk over the whole base, each level written
    * whole to `$root/<table>`. `root` is the store path on the rename
    * layout, or the not-yet-committed segment dir on the manifest
    * layout (the whole build stays invisible until the caller's single
    * manifest publish). */
  private def buildCascades(spark: SparkSession, root: String,
                            layout: StoreLayout): Unit = {
    val base = spark.read.parquet(s"$root/base")
    walkCascades(layout, base, base, None)((table, df) =>
      writeTable(df, table, s"$root/$table"))
  }

  /** Re-register (in a fresh session's catalog) and return the
    * bucketed base table's name — per-series windows over
    * `spark.table(name)` plan with NO exchange (PlanAuditSpec /
    * TsdbStoreSpec).
    *
    * Rename layout: one stable-location table, partitions discovered
    * by MSCK. Manifest layout (round 15, VERDICT r14 next #4): the
    * catalog identity is PER SNAPSHOT — the name carries the live
    * version, and each live (dt → segment dir) manifest entry becomes
    * an explicit `ADD PARTITION … LOCATION` (the manifest is the
    * partition catalog; this is merely copying it into the session
    * catalog so Spark's bucketing planner sees the bucket spec). A
    * mutation commits a new snapshot ⇒ a new name registers at next
    * resolve and the stale registration is dropped — the "stable
    * path" objection dissolves into register-at-resolve. */
  def bucketedBaseTable(spark: SparkSession, path: String): String = {
    val layout = readLayout(spark, path)
    require(layout.buckets > 0, s"store at $path was not ingested with buckets")
    val dtType = if (layout.monthly) "STRING" else "DATE"
    def createTable(name: String, location: String): Unit =
      spark.sql(
        s"""CREATE TABLE $name
           |  (user_id BIGINT, event_type STRING, event_id BIGINT,
           |   ts_us BIGINT, cents BIGINT, dt $dtType)
           |USING PARQUET
           |PARTITIONED BY (dt)
           |CLUSTERED BY (user_id, event_type)
           |SORTED BY (user_id, event_type, ts_us)
           |INTO ${layout.buckets} BUCKETS
           |LOCATION '$location'""".stripMargin)
    if (layout.commit == "manifest") {
      val snap = StoreManifest.load(fsOf(spark, path), path)
      val base = tableNameFor(path)
      val name = s"${base}_v${snap.version}"
      if (!spark.catalog.tableExists(name)) {
        // stale per-snapshot registrations of THIS store die here
        spark.catalog.listTables().collect()
          .filter(t => t.name.startsWith(s"${base}_v") && t.name != name)
          .foreach(t => spark.sql(s"DROP TABLE IF EXISTS ${t.name}"))
        // table-level location is a never-scanned placeholder: every
        // partition carries its own explicit segment-dir location
        createTable(name, s"$path/_segs")
        // BATCHED registration: one ALTER per 500 partitions, not one
        // per partition — at 10⁴ live partitions that is 20 catalog
        // round-trips instead of 10⁴
        snap.entries.toSeq.sortBy(_._1).collect {
          case (("base", dt), rel) =>
            s"PARTITION (dt='$dt') LOCATION '$path/$rel'"
        }.grouped(500).foreach { chunk =>
          spark.sql(s"ALTER TABLE $name ADD ${chunk.mkString(" ")}")
        }
      }
      name
    } else {
      val name = tableNameFor(path)
      if (!spark.catalog.tableExists(name)) {
        createTable(name, s"$path/base")
        spark.sql(s"MSCK REPAIR TABLE $name")
      }
      name
    }
  }

  /** One row per (series, event_id) key — the one `by` ranks highest —
    * with its `carry` columns. */
  private def pickPerKey(df: DataFrame, carry: Seq[String], by: Column): DataFrame =
    df.groupBy("user_id", "event_type", "event_id")
      .agg(max_by(struct(carry.map(col): _*), by).as("r"))
      .select(col("user_id") +: col("event_type") +: col("event_id") +:
        carry.map(c => col(s"r.$c").as(c)): _*)

  /** The columns a store row carries beside its (series, event_id) key. */
  private def carried(df: DataFrame): Seq[String] =
    df.columns.toSeq.filterNot(Set("user_id", "event_type", "event_id").contains)

  /** Deterministic within-batch dedup: two incoming rows with the same
    * (series, event_id) key resolve by lexicographic max over the full
    * carried tuple (ts_us, cents, dt, evolved extras…) — NOT by
    * arrival order, which would make the merged store depend on shuffle
    * nondeterminism (ADVICE r3 #2; the full-tuple key also keeps the
    * pick deterministic when evolved columns differ at equal
    * (ts_us, cents)). */
  private def dedupeBatch(incoming: DataFrame): DataFrame = {
    val carry = carried(incoming)
    pickPerKey(incoming, carry, struct(carry.map(col): _*))
  }

  /** The upsert merge, shared by [[upsert]] and [[upsertIncremental]]:
    * last write per (series, event_id) wins — a row of the deduped
    * `incoming` batch replaces the `existing` row with its key. */
  private def lastWriteWins(existing: DataFrame, incoming: DataFrame): DataFrame =
    pickPerKey(existing.withColumn("gen", lit(0))
      .unionByName(incoming.withColumn("gen", lit(1))), carried(incoming), col("gen"))

  /** Idempotent re-ingest of late/replayed rows: last write per
    * (series, event_id) wins — offset-addressing upsert semantics as a
    * dedup-by-key pass over the union of old + new. Unlike
    * [[upsertIncremental]] (whose blast radius is the touched dt
    * partitions, and which rejects partition-moving replays only when
    * `verifyNoPartitionMoves = true` — by default that hazard is the
    * caller's contract), this is the full-rewrite path: the merged
    * base and every cascade rebuilt from it land in one fresh segment
    * under ONE publish, so readers see the old store whole until
    * everything has landed. The merge reads the closure's snapshot, so
    * a conflicting concurrent DATA commit re-runs it against the new
    * base (the merge's input is the whole base — every data key
    * overlaps); only a concurrent metadata/sidecar commit
    * (ingestMetadata, addColumn) is disjoint enough to rebase, which
    * is safe in either order. Manifest layout only. */
  def upsert(spark: SparkSession, newEvents: DataFrame, path: String): Unit =
      withRollupRewriteOff(spark) {
    val layout = requireManifest(spark, path, "upsert")
    require(layout.buckets == 0,
      "upsert writes plain parquet, which would not honor the bucketed " +
        "table's file layout — rewrite the bucketed table via ingest() instead")
    val fs = fsOf(spark, path)
    StoreManifest.publishOptimistic(fs, path, tornGraceMs(spark)) { prev =>
      val extras = declaredExtras(prev, "base")
      val existing = manifestRead(spark, path, layout, prev, "base")
        .select(baseCols(extras).map(col): _*)
      val incoming = dedupeBatch(normalize(newEvents, layout, extras))
      val seg = StoreManifest.newSegId()
      writeTable(lastWriteWins(existing, incoming), "base",
        StoreManifest.segTableDir(path, seg, "base"))
      buildCascades(spark, s"$path/_segs/$seg", layout)
      Some(rebuiltStore(spark, path, layout, prev, seg, "upsert"))
    }
    touchDataStamp(spark, path)
  }

  /** One mutation attempt's working snapshot — the partition draft of
    * [[upsertIncremental]] and [[deleteSeries]]. It starts as the
    * snapshot the attempt received; each [[rewrite]] writes a table's
    * new partitions into the attempt's own segment and re-points
    * exactly the partitions it names (dropping one the rewrite left
    * empty). It drops those keys' delete refs too, as the publish
    * carry rule will: the rewrite read through them, so it folded
    * them. Reads through the draft therefore see what the commit will
    * publish, while nothing live changes until [[commit]]'s mutation
    * is published; an abandoned attempt's segment is vacuumable
    * garbage. */
  private final class Draft(spark: SparkSession, path: String, layout: StoreLayout,
                            from: StoreManifest.Snapshot) {
    val seg: String = StoreManifest.newSegId()
    private val fs = fsOf(spark, path)
    private var cur = from

    def snap: StoreManifest.Snapshot = cur
    def has(table: String): Boolean = cur.entries.keys.exists(_._1 == table)
    def read(table: String): DataFrame = manifestRead(spark, path, layout, cur, table)

    def rewrite(table: String, df: DataFrame, dts: Seq[String]): Unit = {
      writeTable(df, table, StoreManifest.segTableDir(path, seg, table))
      val fresh = StoreManifest.segEntries(fs, path, seg, table)
      val h = segStats(fs, path, fresh)
      val keys = dts.map((table, _))
      def repoint[V](m: Map[(String, String), V], to: Map[(String, String), V]) =
        m -- keys ++ keys.flatMap(k => to.get(k).map(k -> _))
      cur = cur.copy(entries = repoint(cur.entries, fresh),
        stats = repoint(cur.stats, h.stats), files = repoint(cur.files, h.files),
        dels = cur.dels -- keys)
    }

    /** The attempt's mutation, or None when no partition changed (no
      * junk identical snapshot). */
    def commit(op: String, schemas: Map[String, String],
               propSets: Map[String, String] = Map.empty): Option[StoreManifest.Mutation] =
      if (cur.entries == from.entries) None
      else Some(StoreManifest.Mutation(entries = cur.entries, stats = cur.stats,
        files = cur.files, schemas = schemas, op = op, propSets = propSets,
        dtAdjacency = adjacencyOf(layout)))
  }

  /** Incremental upsert — the cascade's UPDATE CONTRACT: merge
    * late/replayed rows into ONLY the dt partitions they touch, then
    * recompute just those partitions of the value cascade — and those
    * partitions PLUS each touched partition's successor of the rate
    * cascade (the first delta of partition P+1 depends on the last
    * sample of P). Every step divides a day, so a base partition maps
    * to exactly one partition at every level and the blast radius of a
    * late row is (levels × ≤2 partitions). This is the Spark-native
    * answer to the reference's per-insert Aggregator.update [pub:
    * esxsnmp/persist.py TSDBPollPersister — unverified, SURVEY.md §0]:
    * at 100 TB, recompute-touched-partitions rewrites a few files where
    * a full cascade rebuild would re-scan the table.
    *
    * Boundary contract: the rate recompute reads touched partitions ±1.
    * A predecessor farther back than one partition is ≥ a full
    * partition span away, hence past the heartbeat and invalid anyway —
    * which is why `heartbeatSec` must not exceed the partition span
    * (enforced below).
    *
    * Precondition (slot-addressing semantics): a replayed event_id
    * keeps its original partition — rows are addressed by (series,
    * event_id, partition). A replay that moves partitions silently
    * leaves the old row in place (duplicate key); use the full
    * [[upsert]] for those, or pass `verifyNoPartitionMoves = true` to
    * pay one pruned anti-join scan that makes the violation loud.
    * Returns the touched dt strings (TsdbStoreSpec asserts at file
    * level that nothing else was rewritten and the result equals a
    * full recompute).
    *
    * Manifest layout only: every table's recompute lands in ONE fresh
    * segment and the single publish makes the whole multi-table update
    * atomic to readers.
    *
    * `streamCommit = Some((runNs, batchId))` is the EXACTLY-ONCE hook
    * for streaming ingest
    * ([[graft.streaming.StreamingOps.streamIngestIncremental]]): the
    * batch's id rides into the snapshot as a `streamhwm:<runNs>`
    * property — committed ATOMICALLY with the data by the same single
    * manifest create — and a batch at-or-below the live snapshot's
    * high-water mark returns immediately as an already-committed
    * replay (a checkpointed source re-delivering after a crash
    * between this commit and the sink's own checkpoint write). */
  def upsertIncremental(spark: SparkSession, newEvents: DataFrame,
                        path: String,
                        verifyNoPartitionMoves: Boolean = false,
                        streamCommit: Option[(String, Long)] = None): Seq[String] =
      withRollupRewriteOff(spark) {
    val layout = requireManifest(spark, path, "upsertIncremental")
    // same guard as compactPartition: the recompute writes plain
    // parquet files (no bucket-id naming), which would break every
    // later bucketed read (ADVICE r4)
    require(layout.buckets == 0,
      "upsertIncremental would destroy bucket-file metadata; " +
        "rewrite the bucketed table via ingest() instead")
    val partitionSpanSec = if (layout.monthly) 28L * 86400L else 86400L
    require(layout.heartbeatSec <= partitionSpanSec,
      s"incremental rate recompute needs heartbeat (${layout.heartbeatSec}s) " +
        s"<= partition span (${partitionSpanSec}s); run a full ingest instead")
    val fs = fsOf(spark, path)
    def inDts(dts: Seq[String]): Column = col("dt").isin(dtLits(layout, dts): _*)

    var touchedOut: Seq[String] = Seq.empty

    /** The whole incremental recompute against ONE snapshot — the unit
      * [[StoreManifest.publishOptimistic]] re-runs on an overlapping
      * conflict. Every rewrite lands in the attempt's [[Draft]], so the
      * cascades read the new base before anything is published. */
    def attempt(snap: StoreManifest.Snapshot): Option[StoreManifest.Mutation] = {
      // exactly-once replay guard: checked BEFORE any Spark job runs,
      // so a re-delivered batch costs one manifest read, not a
      // recompute. The skip is LOUD (ADVICE r15 #4): after a crash
      // recovery exactly one replayed batch should ever land here — a
      // stream whose EVERY batch skips is a mis-lineaged checkpoint
      // (reset checkpoint dir, reused store + runNs: fresh batch ids
      // restart at 0 below the stored mark), which without the log
      // reads as silent data loss
      streamCommit.foreach { case (ns, batchId) =>
        val committed = snap.props.get(s"streamhwm:$ns").flatMap(_.toLongOption)
        if (committed.exists(batchId <= _)) {
          System.err.println(
            s"[graft] streaming batch $batchId skipped at high-water mark " +
              s"${committed.get} (runNs='$ns', store=$path) — expected ONCE " +
              "after a checkpoint crash recovery; if every batch logs this, " +
              "the checkpoint lineage and runNs are out of sync (a reset " +
              "checkpoint reusing a store needs a fresh runNs)")
          touchedOut = Seq.empty
          return None
        }
      }
      val extras = declaredExtras(snap, "base")
      val incoming = dedupeBatch(normalize(newEvents, layout, extras))
      val touched = incoming.select(col("dt").cast("string")).distinct()
        .collect().map(_.getString(0)).sorted.toSeq
      touchedOut = touched
      // an EMPTY batch touches no partition: nothing to rewrite, and
      // nothing to commit (an empty STREAMING batch therefore advances
      // no high-water mark, which is safe: replaying it is a no-op)
      if (touched.isEmpty) return None
      val d = new Draft(spark, path, layout, snap)

      if (verifyNoPartitionMoves && d.has("base")) {
        val moved = d.read("base")
          .filter(!inDts(touched))
          .join(incoming.select("user_id", "event_type", "event_id"),
            Seq("user_id", "event_type", "event_id"), "left_semi")
          .limit(1).collect()
        require(moved.isEmpty,
          s"incoming event_id ${moved.head.getAs[Long]("event_id")} already exists " +
            "in an untouched partition (a partition-moving replay) — use upsert()")
      }

      // base: last write wins within the touched partitions only
      // (bootstrap: no base yet ⇒ empty existing side — this makes the
      // incremental path usable as the streaming ingest sink too). A
      // recompute that produces NO rows for a dt (e.g. every delta in
      // it became invalid) legitimately drops the partition.
      val existing =
        if (d.has("base"))
          d.read("base").filter(inDts(touched)) // partition pruning
            .select(baseCols(extras).map(col): _*)
        else incoming.filter(lit(false))
      d.rewrite("base", lastWriteWins(existing, incoming), touched)

      // cascades: the touched partitions of the value and quantile
      // families — every step divides a day, so no cell straddles a
      // partition boundary — and, of the rate family, those PLUS each
      // one's successor: the last sample of a touched partition feeds
      // its successor's FIRST delta, so the delta window also reads each
      // rewritten partition's predecessor. All pruned.
      val baseDts = d.snap.entries.keys.collect { case ("base", dt) => dt }.toSet
      val rateTouched = (touched ++ touched.map(nextDt(layout, _)))
        .distinct.filter(baseDts.contains).sorted
      val readDts = (rateTouched ++ rateTouched.map(prevDt(layout, _)))
        .distinct.filter(baseDts.contains).sorted
      walkCascades(layout, d.read("base").filter(inDts(touched)),
          d.read("base").filter(inDts(readDts)), Some(rateTouched)) { (table, df) =>
        d.rewrite(table, df, if (table.startsWith("rate_")) rateTouched else touched)
      }
      // the single commit point: every table's update above becomes
      // visible to readers at once, or (on a crash before the publish)
      // not at all — the segment is vacuumable garbage
      d.commit(streamCommit.map(_ => "streamIngest").getOrElse("upsertIncremental"),
        schemas = snap.schemas ++
          segSchemas(spark, path, segFresh(fs, path, layout, d.seg), snap),
        propSets = streamCommit
          .map { case (ns, b) => s"streamhwm:$ns" -> b.toString }.toMap)
    }

    // only a published version changed what readers see
    if (StoreManifest.publishOptimistic(fs, path, tornGraceMs(spark))(attempt).isDefined)
      touchDataStamp(spark, path)
    touchedOut
  }

  /** Small-file compaction for one dt partition of one store table:
    * streaming ingest lands a file per microbatch per task, and a year
    * of 10-second polls would leave the base table as millions of
    * KB-sized files — the #1 operational decay mode of any file-backed
    * store. The nine derived tables decay the same way under repeated
    * [[upsertIncremental]] (each touched partition is rewritten by a
    * multi-task job), so `table` accepts any of
    * `base | agg_<step> | rate_<step> | quant_<step>` (VERDICT r7
    * next #5). Rewrites the partition into `targetFiles` zstd files
    * re-clustered by (series, ts-or-slot) so row-group min/max pruning
    * is restored, and commits one manifest create pointing the
    * partition at the compacted copy; the old files become vacuumable
    * garbage. A conflicting concurrent commit that did NOT touch this
    * partition rebases (the compacted files are parent-independent);
    * one that did re-runs the rewrite against the new snapshot. Row
    * set is untouched (TsdbStoreSpec proves bag equality + file-count
    * drop per family). Manifest layout only; bucketed stores compact
    * through table rewrites — rejected loudly here. */
  def compactPartition(spark: SparkSession, path: String, dt: String,
                       targetFiles: Int = 1,
                       table: String = "base"): Unit = withRollupRewriteOff(spark) {
    val layout = requireManifest(spark, path, "compactPartition")
    require(layout.buckets == 0,
      "compactPartition would destroy bucket-file metadata; rewrite the bucketed table instead")
    val derived = "^(agg|rate|quant)_(\\d+)$".r
    // the time column rows are clustered on: raw samples by ts_us,
    // cascade cells by their slot
    val timeCol = table match {
      case "base" => "ts_us"
      case derived(_, step) =>
        require(layout.steps.contains(step.toLong),
          s"compactPartition: $table is not a cascade level of this " +
            s"store (steps: ${layout.steps.mkString(",")})")
        "slot_ts"
      case other =>
        throw new IllegalArgumentException(
          s"compactPartition: unknown table '$other' " +
            "(expected base | agg_<step> | rate_<step> | quant_<step>)")
    }
    val fs = fsOf(spark, path)
    StoreManifest.publishOptimistic(fs, path, tornGraceMs(spark)) { snap =>
      // fail fast on a typo'd / already-dropped partition — compacting
      // an empty read would otherwise install an empty junk partition
      require(snap.entries.contains((table, dt)),
        s"compactPartition: no such partition dt=$dt under $path/$table")
      val rel = s"_segs/${StoreManifest.newSegId()}/$table/dt=$dt"
      manifestRead(spark, path, layout, snap, table)
        .filter(col("dt").isin(dtLits(layout, Seq(dt)): _*))
        .drop("dt") // encoded by the target directory name (hive layout)
        // range-repartition so multi-file targets stay globally clustered
        // on (series, ts) — plain round-robin would only cluster within
        // each file and row-group pruning across files would be lost
        .repartitionByRange(targetFiles, col("user_id"), col("event_type"), col(timeCol))
        .sortWithinPartitions("user_id", "event_type", timeCol)
        .write.mode(SaveMode.Overwrite)
        .option("compression", "zstd")
        .parquet(s"$path/$rel")
      val (es, fls) = StoreManifest.statsOf(fs, path, rel, timeColOf(table))
      Some(StoreManifest.Mutation(
        entries = snap.entries.updated((table, dt), rel),
        stats = snap.stats.updated((table, dt), es),
        files = if (fls.isEmpty) snap.files - ((table, dt))
          else snap.files.updated((table, dt), fls),
        schemas = snap.schemas,
        op = "compactPartition"))
    }
    touchDataStamp(spark, path)
  }

  /** Namespace listing served from the STORE — the reference's "ls the
    * var tree" plus per-var metadata [pub: TSDB.list_vars-style walk —
    * unverified, SURVEY.md §0]: every series with its first/last
    * active slot and total sample count, read from the COARSEST value
    * cascade — |series|·active-days rows scanned, never raw samples.
    * The monoid image makes the counts exact (sum of n) and the slot
    * extremes exact at cascade granularity (a series is "active" in a
    * coarse cell iff it has ≥1 raw sample there). */
  def listSeries(spark: SparkSession, path: String): DataFrame = {
    val meta = storeMeta(spark, path)
    val t = meta.layout.steps.max
    readTable(spark, path, meta, s"agg_$t")
      .groupBy("user_id", "event_type")
      .agg(min("slot_ts").as("first_slot_ts"), max("slot_ts").as("last_slot_ts"),
        sum("n").as("n_samples"))
      .orderBy("user_id", "event_type")
  }

  /** Delete one series everywhere — the reference's "remove the var"
    * maintenance op (a directory delete in a directory-per-series
    * layout [pub: tsdb dir-per-var — unverified, SURVEY.md §0]). The
    * long/narrow layout stores series as ROWS, so deletion is a
    * partition-scoped anti-filter rewrite: for base and every cascade
    * level, rewrite ONLY the dt partitions the series touches (found
    * by a pruned scan — parquet (user_id, event_type) row-group stats
    * carry that filter), leaving every other partition's files
    * untouched on disk. No neighbor recompute is needed, unlike
    * upsert: ALL of the series' rows vanish at every level at once,
    * and cascade/rate/quant rows never mix series. Returns the dt
    * partitions rewritten per table (TsdbStoreSpec asserts equality
    * with a full re-ingest of the filtered feed AND that untouched
    * partitions keep their files).
    *
    * Every table's rewrite lands in one fresh segment and commits
    * with ONE manifest create — skipped when the series touched
    * nothing — so readers never see a half-deleted store. The
    * metadata sidecar (`meta`) is deliberately untouched: it is an
    * append-only as-of history, and retaining the deleted series'
    * past attribute rows is the intended audit behavior (ADVICE r7
    * #5). Manifest layout only. */
  def deleteSeries(spark: SparkSession, path: String,
                   userId: Long, eventType: String): Map[String, Seq[String]] =
      withRollupRewriteOff(spark) {
    val layout = requireManifest(spark, path, "deleteSeries")
    require(layout.buckets == 0,
      "deleteSeries rewrites plain parquet partitions, which would destroy " +
        "bucket-file metadata; rewrite the bucketed table via ingest() instead")
    val fs = fsOf(spark, path)
    var rewritten = Map.empty[String, Seq[String]]
    // the full multi-table anti-filter rewrite against one snapshot —
    // re-runnable on an optimistic conflict (fresh draft per attempt)
    StoreManifest.publishOptimistic(fs, path, tornGraceMs(spark)) { snap =>
      val d = new Draft(spark, path, layout, snap)
      val isSeries = col("user_id") === userId && col("event_type") === eventType
      rewritten = storeTables(layout).filter(d.has).map { table =>
        val t = d.read(table)
        val touched = t.filter(isSeries)
          .select(col("dt").cast("string")).distinct()
          .collect().map(_.getString(0)).sorted.toSeq
        // a partition the series was the only content of is dropped
        if (touched.nonEmpty)
          d.rewrite(table, t.filter(col("dt").isin(dtLits(layout, touched): _*))
            .filter(!isSeries), touched)
        table -> touched
      }.toMap
      d.commit("deleteSeries", snap.schemas)
    }
    touchDataStamp(spark, path)
    rewritten
  }

  /** MERGE-ON-READ row-level delete (round 17, VERDICT r16 missing #1
    * — the GDPR-erasure / corpus-takedown shape): logically delete
    * every row of the named series keys with a METADATA-SIZED commit,
    * no data rewrite. Where [[deleteSeries]] rewrites every dt
    * partition the key spans at every cascade level — a full-store
    * rewrite for a long-lived key — this writes ONE small delete file
    * naming the keys and commits manifest `del` refs attaching it to
    * the live partitions that may contain them; readers apply the
    * anti-filter at scan time (manifestRead — the one entry point
    * every fetch and maintenance read flows through). [pub: Iceberg
    * v2 equality-delete files / Delta deletion vectors — design
    * lineage only.]
    *
    * Attach scope is stats-pruned: a partition whose per-file
    * series-key bounds PROVABLY exclude every requested key gets no
    * ref (its reads stay filter-free); missing stats attach
    * conservatively. Physical reclamation is deferred and
    * incremental: any rewrite of a partition (upsert, compaction,
    * deleteSeries, retention) reads through the filter and therefore
    * FOLDS the deletes into its output — its commit drops the
    * partition's refs (the entry-unchanged carry rule in
    * [[StoreManifest.publishOptimistic]]) — and [[vacuum]] reclaims a
    * delete file once no retained snapshot references it. Time-travel
    * reads of pre-delete snapshots still see the rows (erasure
    * COMPLETES when retention trims those snapshots and vacuum runs —
    * same contract as any lakehouse delete). The `meta` sidecar keeps
    * its as-of history (the [[deleteSeries]] audit contract). The CDC
    * tail emits nothing for this commit (no new data files) — a
    * downstream materialized view learns of deletions by rebuild or
    * by replaying the delete keys out of band, documented in
    * StoreTailSource.
    *
    * Returns table → dt partitions the refs attached to. Requires the
    * manifest layout (the rename layout has no snapshot to carry
    * refs) and an unbucketed store (bucketed manifest tables read
    * through the hive catalog, which bypasses manifestRead's
    * filter). */
  def deleteRows(spark: SparkSession, path: String,
                 keys: Seq[(Long, String)]): Map[String, Seq[String]] = {
    val layout = requireManifest(spark, path, "deleteRows")
    require(layout.buckets == 0,
      "deleteRows refs are applied by manifestRead, which the bucketed " +
        "catalog read path bypasses — a bucketed store would silently " +
        "resurrect deleted rows; use deleteSeries via ingest() instead")
    require(keys.nonEmpty, "deleteRows: no keys given")
    val fs = fsOf(spark, path)
    // the delete file is snapshot-independent: write it once, reuse
    // the ref across optimistic retries (an abandoned commit leaves it
    // as age-gated vacuumable garbage)
    val rel = StoreManifest.writeDeleteFile(fs, path, keys)
    var attached = Map.empty[String, Seq[String]]
    StoreManifest.publishOptimistic(fs, path, tornGraceMs(spark)) { snap =>
      attached = Map.empty
      var dels = snap.dels
      snap.entries.keys.map(_._1).filter(_ != "meta").toSeq.distinct.sorted
        .foreach { table =>
          val hit = snap.entries.keys.collect { case (`table`, dt) => dt }
            .toSeq.sorted.filter { dt =>
              snap.files.get((table, dt)) match {
                case Some(fls) if fls.nonEmpty => fls.exists(f =>
                  keys.exists(k => f.mayMatchSeries(Some(k._1), Some(k._2))))
                case _ => true // no stats: must assume it may contain the keys
              }
            }
          hit.foreach { dt =>
            dels = dels.updated((table, dt),
              (dels.getOrElse((table, dt), Seq.empty) :+ rel).distinct)
          }
          if (hit.nonEmpty) attached += (table -> hit)
        }
      if (dels == snap.dels) None // every partition provably clean: no-op
      else Some(StoreManifest.Mutation(
        entries = snap.entries, stats = snap.stats, files = snap.files,
        schemas = snap.schemas, op = "deleteRows",
        dtAdjacency = adjacencyOf(layout), dels = Some(dels)))
    }
    touchDataStamp(spark, path)
    attached
  }

  // ---- metadata sidecar (IfRef-shaped temporal validity) --------------

  /** Persist the store's metadata sidecar — the reference's IfRef-style
    * temporal interface metadata [pub: esxsnmp/sql.py IfRef —
    * unverified, SURVEY.md §0]: one row per metadata VERSION with a
    * half-open validity interval [valid_from_us, valid_to_us). Input
    * rows carry BIGINT (user_id, ver_id, valid_from_us) plus any
    * attribute columns; valid_to_us is DERIVED here (next version's
    * start per key, open tail = Long.MaxValue), so intervals are
    * non-overlapping and gap-free by construction — the invariant that
    * makes as-of resolution and interval containment agree. Stored
    * sorted by (user_id, valid_from_us): metadata is version-count-
    * sized, not sample-sized, so one sorted parquet table serves both
    * the as-of merge and interval scans. */
  def ingestMetadata(spark: SparkSession, meta: DataFrame, path: String): Unit = {
    val layout = readLayout(spark, path)
    val w = Window.partitionBy("user_id").orderBy("valid_from_us", "ver_id")
    val derived = meta
      .withColumn("valid_to_us",
        coalesce(lead("valid_from_us", 1).over(w), lit(Long.MaxValue)))
      .sortWithinPartitions("user_id", "valid_from_us")
    if (layout.commit == "manifest") {
      val fs = fsOf(spark, path)
      // the sidecar write is snapshot-independent (derived from the
      // caller's feed alone), so a conflicting concurrent commit only
      // needs a REBASE unless it also replaced the sidecar — the
      // already-written segment re-points in both orders
      StoreManifest.publishOptimistic(fs, path, tornGraceMs(spark)) { prev =>
        val seg = StoreManifest.newSegId()
        derived.write.mode(SaveMode.Overwrite).option("compression", "zstd")
          .parquet(StoreManifest.segTableDir(path, seg, "meta"))
        val rel = s"_segs/$seg/meta"
        val (es, fls) = StoreManifest.statsOf(fs, path, rel, timeColOf("meta"))
        val key = ("meta", StoreManifest.NoDt)
        Some(StoreManifest.Mutation(
          entries = prev.entries.updated(key, rel),
          stats = prev.stats.updated(key, es),
          files = if (fls.isEmpty) prev.files - key
            else prev.files.updated(key, fls),
          schemas = prev.schemas +
            ("meta" -> spark.read.parquet(s"$path/$rel").schema.json),
          op = "ingestMetadata"))
      }
    } else {
      derived.write.mode(SaveMode.Overwrite).option("compression", "zstd")
        .parquet(s"$path/meta")
    }
    touchDataStamp(spark, path)
  }

  def readMetadata(spark: SparkSession, path: String): DataFrame =
    readTable(spark, path, "meta")

  /** Point-in-time metadata resolution served FROM the store: each
    * sample joins to the metadata version valid at its timestamp via
    * the native co-partitioned AsofJoin exec (graft.plans.AsofJoin —
    * GraftExtensions must be installed). No broadcast and no
    * (sample × earlier-version) pair blow-up: the scale path even when
    * the sidecar outgrows broadcast reach. `samples` needs BIGINT
    * (user_id, ts_us); metadata columns come back nullable (samples
    * before the first version resolve to NULL). */
  def metaAsof(spark: SparkSession, path: String, samples: DataFrame): DataFrame = {
    val meta = readMetadata(spark, path).withColumnRenamed("user_id", "m_user")
    graft.operators.JoinOps.asofJoinMerge(samples, meta,
      leftKey = "user_id", leftTs = "ts_us",
      rightKey = "m_user", rightTs = "valid_from_us", rightTie = "ver_id")
  }

  /** Range fetch with point-in-time metadata attached — the reference's
    * "samples with the IfRef that was valid when they were taken" read:
    * the ranged base read over [beginSec, endSec) for one event_type
    * (all series), as-of joined to the sidecar through [[metaAsof]]. */
  def fetchMetaAsof(spark: SparkSession, path: String, eventType: String,
                    beginSec: Long, endSec: Long): DataFrame =
    metaAsof(spark, path, rangedRead(spark, path, storeMeta(spark, path), "base",
        Seq((None, Some(eventType))), beginSec, endSec)
      .select("user_id", "event_type", "event_id", "ts_us", "cents"))

  /** Retention: drop every base + cascade partition strictly older
    * than `cutoffSec` — the reference's chunk-file deletion policy
    * [pub: RRD-style retention — unverified, SURVEY.md §0] as a PURE
    * metadata commit: the expired (table, dt) entries leave the
    * snapshot in one publish — zero data operations, and the expired
    * files stay until [[vacuum]] reclaims them (in-flight readers
    * finish against the old snapshot undisturbed). Needs no
    * recompute: cascade partitions are partition-scoped, so dropping a
    * base partition and its aggregate partitions leaves every
    * surviving partition internally consistent (the successor's first
    * rate slot loses its boundary delta only when that delta's own
    * partition is dropped with it — the reference drops whole chunks
    * the same way). A monthly partition is dropped only when the
    * ENTIRE month precedes the cutoff. Optimistic: recomputing the
    * drop set against a conflicting commit's snapshot is free.
    * Returns the dropped dt strings per table. Manifest layout only. */
  def dropBefore(spark: SparkSession, path: String,
                 cutoffSec: Long): Map[String, Seq[String]] = {
    val layout = requireManifest(spark, path, "dropBefore")
    val cutoffDay = utcDay(cutoffSec) // integer UTC math, like ingest's dt
    def wholePartitionBefore(dt: String): Boolean =
      scala.util.Try {
        if (layout.monthly)
          !YearMonth.parse(dt).atEndOfMonth().isAfter(cutoffDay.minusDays(1))
        else LocalDate.parse(dt).isBefore(cutoffDay)
      }.getOrElse(false) // skip non-date partitions (__HIVE_DEFAULT_PARTITION__)
    var droppedByTable = Map.empty[String, Seq[String]]
    StoreManifest.publishOptimistic(fsOf(spark, path), path, tornGraceMs(spark)) { snap =>
      droppedByTable = storeTables(layout).map { t =>
        t -> snap.entries.keys.collect {
          case (`t`, dt) if wholePartitionBefore(dt) => dt
        }.toSeq.sorted
      }.toMap
      val work = snap.entries.filterNot { case ((t, dt), _) =>
        droppedByTable.getOrElse(t, Seq.empty).contains(dt)
      }
      if (work == snap.entries) None
      else Some(StoreManifest.Mutation(
        entries = work,
        stats = snap.stats.view.filterKeys(work.contains).toMap,
        files = snap.files.view.filterKeys(work.contains).toMap,
        schemas = snap.schemas, op = "dropBefore",
        dtAdjacency = adjacencyOf(layout)))
    }
    touchDataStamp(spark, path)
    droppedByTable
  }

  /** Garbage-collection for the manifest layout: delete every data
    * dir no retained snapshot references — crash-orphan segments and
    * the old files of compacted/deleted/expired partitions — plus
    * snapshots older than the newest `keepManifests`. Run it from THE
    * writer between mutations (single-writer contract: an in-flight
    * mutation's uncommitted segment looks exactly like crash garbage).
    * `keepManifests > 1` retains short read-side time travel; 1 keeps
    * only the live snapshot. Returns (store-relative dirs deleted,
    * snapshot versions deleted). */
  def vacuum(spark: SparkSession, path: String,
             keepManifests: Int = 2): (Seq[String], Seq[Long]) = {
    requireManifest(spark, path, "vacuum")
    val fs = fsOf(spark, path)
    // LEASE handshake (round 17, VERDICT r16 next #6): vacuum was
    // single-writer by contract only — a writer racing it could have
    // its staged (uncommitted) segments deleted and then COMMIT
    // references to the deleted files silently. The lease closes the
    // race loudly from both sides: publish refuses while the lease is
    // live, acquire refuses a second vacuum, and a crashed vacuum's
    // lease expires on its own. After acquiring, a short grace lets
    // any publish that passed its lease check milliseconds earlier
    // finish its single file create; the post-vacuum version check
    // then PROVES no commit slipped through — if one somehow did, the
    // error names the possibly-affected commit instead of losing data
    // silently.
    val graceMs = spark.conf
      .get("spark.graft.store.vacuumGraceMs", "2000").toLong
    StoreManifest.acquireVacuumLease(fs, path, StoreManifest.VacuumLeaseMs)
    try {
      if (graceMs > 0) Thread.sleep(graceMs)
      val v0 = StoreManifest.load(fs, path).version
      val out = StoreManifest.vacuum(fs, path, keepManifests,
        tornGraceMs(spark))
      val v1 = StoreManifest.load(fs, path).version
      if (v1 != v0)
        throw new IllegalStateException(
          s"store at $path advanced v$v0 → v$v1 DURING a leased vacuum " +
            "— a writer bypassed the lease check (direct " +
            "StoreManifest.publish caller?); treat snapshots ≥ " +
            s"v$v1 as suspect and verify their segments exist")
      out
    } finally StoreManifest.releaseVacuumLease(fs, path)
  }

  /** Interchange sink/source: newline-delimited JSON export of any
    * result (the reference's API spoke JSON; bulk exports at scale
    * stay partitioned — one file per task, gzip). Read back with
    * [[readJson]] — schema round-trips through Spark's JSON reader. */
  def exportJson(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).option("compression", "gzip").json(path)

  def readJson(spark: SparkSession, path: String): DataFrame =
    spark.read.json(path)

  /** CSV interchange twin of [[exportJson]] — header + explicit schema
    * on read (CSV carries no types; inference at 100 TB is both slow
    * and wrong). Partitioned one file per task like every bulk export. */
  def exportCsv(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).option("header", "true")
      .option("compression", "gzip").csv(path)

  def readCsv(spark: SparkSession, path: String,
              schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.read.option("header", "true").schema(schema).csv(path)

  /** The one ranged series read under the whole fetch surface: `table`
    * restricted to `series` × [beginSec, endSec), UNPROJECTED and
    * UNORDERED. Each requested series is an optional (user_id,
    * event_type) equality pair: one keyed pair filters `user_id = u AND
    * event_type = e`, an event-type-only request `event_type = e`, and
    * several (always keyed) pairs a struct IN-list. The range becomes
    * the manifest bounds in [[timeColOf]]'s unit, the dt partition
    * prune and the row filter; the series request is both the manifest
    * file-skip hint and the row predicate, so the hint is never
    * narrower than the filter. `atVersion` reads a retained snapshot
    * (manifest layout only). */
  private def rangedRead(spark: SparkSession, path: String, meta: StoreMeta,
                         table: String, series: Seq[(Option[Long], Option[String])],
                         beginSec: Long, endSec: Long,
                         atVersion: Option[Long] = None): DataFrame = {
    val time = timeColOf(table)
    val unit = if (time == "slot_ts") 1L else 1000000L
    val (lo, hi) = (beginSec * unit, endSec * unit)
    val seriesPred = series match {
      case Seq((u, e)) =>
        (u.map(col("user_id") === _) ++ e.map(col("event_type") === _)).reduce(_ && _)
      case keys => struct(col("user_id"), col("event_type")).isin(keys.map {
        case (u, e) => struct(lit(u.get), lit(e.get))
      }: _*)
    }
    readTableRange(spark, path, meta, table, Some((lo, hi)), atVersion, Some(series))
      .filter(dtPrune(meta.layout, beginSec, endSec)) // partition prune
      .filter(seriesPred)
      .filter(col(time) >= lo && col(time) < hi)
  }

  /** A fetch's leading output columns: a bulk frame carries each row's
    * series key, a single-series or fleet frame does not. */
  private def keyCols(keyed: Boolean): Seq[String] =
    if (keyed) Seq("user_id", "event_type") else Nil

  /** A bulk request as [[rangedRead]]'s series request. */
  private def keyedSeries(series: Seq[(Long, String)]): Seq[(Option[Long], Option[String])] =
    series.map { case (u, e) => (Some(u), Some(e)) }

  /** The flagship read path — GET /snmp/<path>?begin=&end=&agg=&cf=
    * [pub: esxsnmp/newdb.py — unverified]: series filter + half-open
    * time range + consolidation function over the right resolution.
    * `agg=0` reads base samples; otherwise the materialized cascades.
    * Value cfs {average, min, max, sum, raw} read `agg_<step>`;
    * counter cfs {delta, rate} read `rate_<step>` — wrap-corrected,
    * heartbeat-validated deltas (delta = total movement per slot in
    * value units; rate = movement / covered seconds). */
  def fetch(spark: SparkSession, path: String,
            userId: Long, eventType: String,
            beginSec: Long, endSec: Long,
            aggStep: Long = 0L, cf: String = "average"): DataFrame =
    fetchOn(spark, path, storeMeta(spark, path), Seq((userId, eventType)),
      keyed = false, beginSec, endSec, aggStep, cf, None)

  /** [[fetch]], [[fetchBulk]] and both auto fetches under
    * already-resolved store metadata: [[seriesRead]] under the fetch
    * surface's final sort. */
  private def fetchOn(spark: SparkSession, path: String, meta: StoreMeta,
                      series: Seq[(Long, String)], keyed: Boolean,
                      beginSec: Long, endSec: Long, aggStep: Long,
                      cf: String, atVersion: Option[Long]): DataFrame =
    gatherSorted(
      seriesRead(spark, path, meta, series, keyed, beginSec, endSec, aggStep, cf, atVersion),
      keyCols(keyed) :+ (if (aggStep == 0L) "ts_us" else "slot_ts"): _*)

  /** One raw (`aggStep = 0`: base samples) or consolidated (the cf's
    * cascade) read of `series`: the ranged read projected to (series
    * key when `keyed`, time, value), UNORDERED (callers order or join as
    * they need). */
  private def seriesRead(spark: SparkSession, path: String, meta: StoreMeta,
                         series: Seq[(Long, String)], keyed: Boolean,
                         beginSec: Long, endSec: Long, aggStep: Long,
                         cf: String, atVersion: Option[Long]): DataFrame = {
    require(aggStep == 0L || meta.layout.steps.contains(aggStep), s"no such aggregate: $aggStep")
    val (table, value) =
      if (aggStep == 0L) ("base", col("cents").cast("double") / 100.0)
      else { val (family, v) = cfColumn(cf); (s"${family}_$aggStep", v) }
    rangedRead(spark, path, meta, table, keyedSeries(series), beginSec, endSec, atVersion)
      .select(keyCols(keyed).map(col) :+ col(timeColOf(table)) :+ value.as("value"): _*)
  }

  /** The fetch surface's final ORDER BY: gather the result onto ONE
    * partition, then sort it there. Spark plans `Sort ← Exchange
    * SinglePartition`, so there is no range exchange and hence no
    * boundary-sampling job re-running the scan; the scan and any
    * aggregate below keep all their tasks. The gather is tagged
    * [[FetchGather]]: when a composed query lets Spark drop the sort
    * (a join input, an order-insensitive aggregate),
    * [[graft.plans.DropOrphanGathers]] drops the gather with it, so the
    * operators above keep their parallelism. */
  private def gatherSorted(df: DataFrame, cols: String*): DataFrame = {
    val gathered = df.repartition(1)
    gathered.queryExecution.analyzed.setTagValue(FetchGather, ())
    gathered.orderBy(cols.map(col): _*)
  }

  /** Marks the one-partition gather under a fetch's final sort. */
  private[graft] val FetchGather =
    org.apache.spark.sql.catalyst.trees.TreeNodeTag[Unit]("graft.fetchGather")

  /** Percentile read path — the dashboard quantile the monoid cascade
    * cannot answer, served from the `quant_<step>` column family:
    * merge the scanned level's STORED sketches up to the requested
    * slot, then read the nearest-rank quantile off the merged sample
    * (ceil(q·n), the q_ts_p95_billing convention). The scanned level
    * is the coarsest materialized step dividing `aggStep` — the
    * semilattice makes the level choice result-invisible, exactly like
    * the monoid cascade's. Below K=512 samples per evaluated slot the
    * merged buffer holds EVERY sample and the read is the EXACT
    * nearest-rank quantile; beyond, it is the bottom-k uniform-sample
    * estimate with O(1/√K) rank error. Raw samples are never
    * rescanned either way (QuantCascadeSpec pins bit-equality with a
    * one-pass sketch over raw). `interp = true` (round 9) switches the
    * final read to linear interpolation (percentile_cont semantics,
    * [[quantContRead]]) over the same merged sample — SQL-only
    * consumers pass 'cont' as graft_fetch_quantile's 8th argument. */
  def fetchQuantile(spark: SparkSession, path: String,
                    userId: Long, eventType: String,
                    beginSec: Long, endSec: Long,
                    aggStep: Long, q: Double,
                    interp: Boolean = false): DataFrame =
    quantileOn(spark, path, Seq((Some(userId), Some(eventType))), keyed = false,
      beginSec, endSec, aggStep, q, interp)

  /** Fleet-wide percentile: merge the quant sketches across EVERY
    * series of an event_type (and across slots up to the requested
    * step) — "p95 of all clicks per day". Above K samples per evaluated
    * cell this is an estimate (O(1/√K) rank error), but it is STILL
    * bit-identical to a one-pass bottom-k sketch over the raw rows —
    * the semilattice property is scale-free, only exactness is not
    * (QuantCascadeSpec pins the fleet grain too). Raw never scanned. */
  def fetchFleetQuantile(spark: SparkSession, path: String,
                         eventType: String,
                         beginSec: Long, endSec: Long,
                         aggStep: Long, q: Double,
                         interp: Boolean = false): DataFrame =
    quantileOn(spark, path, Seq((None, Some(eventType))), keyed = false,
      beginSec, endSec, aggStep, q, interp, size(col("sk.value")).as("n_sample"))

  /** [[fetchQuantile]] for MANY series in one pruned scan — the bulk
    * percentile twin of [[fetchBulk]]: a struct IN-list of series keys
    * over the same `quant_<t>` scan, per-(series, slot) semilattice
    * merge, one nearest-rank read each. Returns (user_id, event_type,
    * slot_ts, value). */
  def fetchBulkQuantile(spark: SparkSession, path: String,
                        series: Seq[(Long, String)],
                        beginSec: Long, endSec: Long,
                        aggStep: Long, q: Double,
                        interp: Boolean = false): DataFrame = {
    require(series.nonEmpty, "empty series request")
    quantileOn(spark, path, keyedSeries(series), keyed = true,
      beginSec, endSec, aggStep, q, interp)
  }

  /** Every percentile read's plan: the ranged `quant_<t>` read, its
    * stored sketches merged per (series key when `keyed`, requested
    * slot), the quantile read off each merged sample, then any `extra`
    * columns off the same sample. */
  private def quantileOn(spark: SparkSession, path: String,
                         series: Seq[(Option[Long], Option[String])], keyed: Boolean,
                         beginSec: Long, endSec: Long, aggStep: Long, q: Double,
                         interp: Boolean, extra: Column*): DataFrame = {
    val meta = storeMeta(spark, path)
    val t = quantLevelOf(meta.layout, aggStep, q, interp)
    val ms = udaf(new graft.functions.BottomKMergeState)
    val keys = keyCols(keyed).map(col)
    gatherSorted(rangedRead(spark, path, meta, s"quant_$t", series, beginSec, endSec)
      .groupBy(keys :+ (expr(s"slot_ts div $aggStep") * aggStep).as("slot_ts"): _*)
      .agg(ms(col("pri"), col("value")).as("sk"))
      .select(keys ++ Seq(col("slot_ts"),
        (if (interp) quantContRead(q) else quantRankRead(q)).as("value")) ++ extra: _*),
      keyCols(keyed) :+ "slot_ts": _*)
  }

  /** Shared by every percentile read: validate the request and pick
    * the coarsest materialized level dividing the requested slot.
    * Unlike [[fetch]], there is no aggStep = 0 raw path — a quantile
    * over raw samples IS the sketch read (sub-K exact), so a
    * zero/negative step is a caller error, not a mode. */
  private def quantLevelOf(layout: StoreLayout, aggStep: Long, q: Double,
                           interp: Boolean): Long = {
    require(layout.quantiles,
      "this store was built with quantiles = false (no quant_<step> " +
        "column family); re-ingest with quantiles on to serve percentile reads")
    // nearest-rank (ceil(q·n)) is undefined at q = 0; the interpolated
    // read is not — percentile_cont(0) is the minimum, and the cont
    // substitution path accepts it, so the API must too
    if (interp) require(q >= 0.0 && q <= 1.0, s"quantile out of [0, 1]: $q")
    else require(q > 0.0 && q <= 1.0, s"quantile out of (0, 1]: $q")
    require(aggStep > 0, s"aggStep must be a positive slot step, got $aggStep")
    layout.steps.filter(aggStep % _ == 0).sorted.lastOption.getOrElse(
      throw new IllegalArgumentException(
        s"no materialized level divides step $aggStep (steps: ${layout.steps})"))
  }

  /** Nearest-rank read off the merged sketch column `sk` — ceil(q·n),
    * the q_ts_p95_billing convention, cents → value units. */
  private def quantRankRead(q: Double): Column =
    expr(s"element_at(array_sort(sk.value), " +
      s"int(greatest(1, ceil($q * size(sk.value)))))") / 100.0

  /** Interpolated (percentile_cont) read off the merged sample —
    * mirrors Spark PercentileBase's arithmetic exactly (position =
    * q·(n−1), equal-bracket short-circuit, (higher−pos)·v_lo +
    * (pos−lower)·v_hi), so a sub-K read equals evaluating
    * percentile_cont over the raw samples bit-for-bit; above K it is
    * the same interpolation over the bottom-k sample (estimate, like
    * the nearest-rank path). Built from Columns with `lit(q)`
    * (DoubleType) — interpolating q into SQL TEXT would parse it as a
    * DECIMAL literal and silently run the whole interpolation in
    * exact decimal arithmetic, which differs bitwise from
    * PercentileBase's doubles for any non-dyadic q (caught by review
    * before it shipped; the dyadic test pins alone would never have
    * seen it). */
  private def quantContRead(q: Double): Column = {
    val v = col("sk.value")
    val n = size(v)
    val sorted = array_sort(v)
    val pos = lit(q) * (n - 1).cast("double")
    val lower = floor(pos)
    val higher = ceil(pos)
    val vLo = element_at(sorted, (lower + 1).cast("int"))
    val vHi = element_at(sorted, (higher + 1).cast("int"))
    when(lower === higher || vLo === vHi, vLo)
      .otherwise((higher.cast("double") - pos) * vLo
        + (pos - lower.cast("double")) * vHi) / 100.0
  }

  /** cf → (cascade family, value expression), shared by every
    * consolidated read ([[seriesRead]]). Value cfs {average, min, max,
    * sum, raw} read `agg_<step>`; the endpoint cfs {first, last} (round
    * 10 — RRD's LAST consolidation and its mirror) read the stored
    * per-cell argmin/argmax structs of the same table; counter cfs
    * {delta, rate} read `rate_<step>`. */
  private def cfColumn(cf: String): (String, Column) = cf match {
    case "average" => ("agg", col("sum_cents").cast("double") / 100.0 / col("n").cast("double"))
    case "min"     => ("agg", col("min_cents").cast("double") / 100.0)
    case "max"     => ("agg", col("max_cents").cast("double") / 100.0)
    case "sum"     => ("agg", col("sum_cents").cast("double") / 100.0)
    case "raw"     => ("agg", col("n").cast("double"))
    case "first"   => ("agg", col("first.cents").cast("double") / 100.0)
    case "last"    => ("agg", col("last.cents").cast("double") / 100.0)
    case "delta"   => ("rate", col("delta_cents").cast("double") / 100.0)
    case "rate"    => ("rate", when(col("dt_us") > 0,
      (col("delta_cents").cast("double") / 100.0) /
        (col("dt_us").cast("double") / 1000000.0)))
    case other     => throw new IllegalArgumentException(s"unknown cf: $other")
  }

  /** Dense-slot fetch — the REST-parity read shape [pub: esxsnmp
    * newdb.py JSON `data:[[ts,v],…]` — unverified, SURVEY.md §0]: one
    * row per step slot over the requested range, present slots carrying
    * the consolidated value, absent slots NULL (`fill = "null"`) or
    * linearly interpolated between their nearest valid neighbours
    * (`fill = "interp"`; leading/trailing gaps stay NULL — no
    * extrapolation). The grid covers every step slot overlapping
    * [beginSec, endSec): the first slot is beginSec floor-aligned
    * ([[filledOn]] builds it). The interp pass is two RUNNING window
    * frames over the grid — O(slots), the same trees as
    * q_ts_gap_interp (§7.4: UNROUNDED; identical IEEE expression trees
    * are bit-equal cross-engine). */
  def fetchFilled(spark: SparkSession, path: String,
                  userId: Long, eventType: String,
                  beginSec: Long, endSec: Long,
                  aggStep: Long, cf: String = "average",
                  fill: String = "null"): DataFrame = {
    val (cells, filled) =
      filledOn(spark, path, Seq((userId, eventType)), keyed = false, beginSec, endSec, aggStep, cf)
    fill match {
      case "null" => gatherSorted(filled, "slot_ts")
      case "interp" =>
        // one series ⇒ one window partition. This is the REQUEST-bounded
        // single-partition window (VERDICT r17 #4): the frame length is
        // the requested grid — cells = (endSec − firstSlot) / aggStep,
        // set by the CALLER's (begin, end, step), never by stored data
        // volume — so the one task holds a dashboard-request's worth of
        // rows, not a series history. The explicit bound below makes
        // the contract loud instead of a silent straggler: a multi-year
        // raw-step request (> spark.graft.fill.maxInterpCells, default
        // 16M cells ≈ 400 MB of window state) must be split into
        // sub-range fetches by the caller — interpolation only needs
        // one valid sample of overlap at each seam.
        val maxCells =
          spark.conf.get("spark.graft.fill.maxInterpCells", "16777216").toLong
        require(cells <= maxCells,
          s"fill=interp runs one request-sized window partition: $cells grid " +
          s"cells exceeds spark.graft.fill.maxInterpCells=$maxCells; split the " +
          "request into sub-ranges (seams interpolate with 1 valid-sample overlap)")
        val wp = Window.orderBy(col("slot_ts").asc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val wf = Window.orderBy(col("slot_ts").desc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        filled
          .withColumn("prev_ts", max(when(col("value").isNotNull, col("slot_ts"))).over(wp))
          .withColumn("prev_val", last("value", ignoreNulls = true).over(wp))
          .withColumn("next_ts", min(when(col("value").isNotNull, col("slot_ts"))).over(wf))
          .withColumn("next_val", last("value", ignoreNulls = true).over(wf))
          .select(col("slot_ts"),
            when(col("value").isNotNull, col("value"))
              .when(col("prev_val").isNull || col("next_val").isNull, lit(null))
              .otherwise(col("prev_val") + (col("next_val") - col("prev_val")) *
                ((col("slot_ts") - col("prev_ts")).cast("double") /
                 (col("next_ts") - col("prev_ts")).cast("double"))).as("value"))
          .orderBy("slot_ts")
      case other => throw new IllegalArgumentException(s"unknown fill: $other")
    }
  }

  /** Dense-grid size (cells) up to which the filled-fetch paths
    * broadcast the fetched side. The fetched side carries ≤ one row per
    * grid cell by construction, so a request-sized grid (a dashboard
    * asks for hundreds of slots) always broadcasts — but a multi-year
    * fine-step bulk request can reach tens of millions of cells, where
    * an unconditional broadcast would push the 8 GB ceiling (VERDICT r6
    * missing #3). Past the gate, the re-attach falls back to a plain
    * shuffle join on the grid keys. Tunable per session. */
  private def fillBroadcastCells(spark: SparkSession): Long =
    spark.conf.get("spark.graft.fill.broadcastCells", "2000000").toLong

  /** The filled fetches' dense grid, UNORDERED, with its cell count:
    * one row per (requested series, step slot) over [begin, end), the
    * first slot beginSec floor-aligned, absent slots NULL. Scale shape:
    * the grid is a `spark.range` generator (a bulk request's literal
    * series list is exploded onto it — request-sized, never
    * corpus-sized; nothing driver-sized, no cross join); the store side
    * is [[seriesRead]]'s pruned cascade read (PartitionFilters intact —
    * PlanAuditSpec), re-attached by a broadcast LEFT join on the grid
    * keys — it carries ≤ one row per grid cell by construction, so it is
    * the small side — or, past the [[fillBroadcastCells]] gate (a
    * multi-year raw-step request), by a shuffle join instead of pushing
    * the broadcast ceiling. */
  private def filledOn(spark: SparkSession, path: String,
                       series: Seq[(Long, String)], keyed: Boolean,
                       beginSec: Long, endSec: Long, aggStep: Long,
                       cf: String): (Long, DataFrame) = {
    val meta = storeMeta(spark, path)
    val layout = meta.layout
    require(layout.steps.contains(aggStep),
      s"${if (keyed) "fetchBulkFilled" else "fetchFilled"} needs a materialized " +
        s"slot resolution, got $aggStep (steps: ${layout.steps})")
    require(endSec > beginSec, s"empty range: [$beginSec, $endSec)")
    val firstSlot = Math.floorDiv(beginSec, aggStep) * aggStep
    val slots = spark.range(firstSlot, endSec, aggStep)
    val grid =
      if (!keyed) slots.select(col("id").as("slot_ts"))
      else slots.select(explode(array(series.map { case (u, e) =>
          struct(lit(u).as("user_id"), lit(e).as("event_type")) }: _*)).as("k"),
          col("id").as("slot_ts"))
        .select(col("k.user_id"), col("k.event_type"), col("slot_ts"))
    val present = seriesRead(spark, path, meta, series, keyed, firstSlot, endSec, aggStep, cf, None)
    val cells = Math.floorDiv(endSec - firstSlot + aggStep - 1, aggStep) * series.length
    val keys = keyCols(keyed) :+ "slot_ts"
    (cells,
      if (cells <= fillBroadcastCells(spark)) grid.join(broadcast(present), keys, "left")
      else grid.join(present, keys, "left"))
  }

  /** Best-aggregate selection — the reference picked, for a requested
    * output resolution, the COARSEST materialized aggregate that still
    * divides it evenly, falling back to raw samples when none does
    * [pub: esxsnmp aggregate selection in the REST fetch path —
    * unverified, SURVEY.md §0]. Reading 6 h slots to serve a 12 h
    * resolution scans 4× fewer rows than reading 30 s slots; at 100 TB
    * the selection IS the fetch cost. Returns the chosen step alongside
    * the frame so callers can label their output. */
  def fetchAuto(spark: SparkSession, path: String,
                userId: Long, eventType: String,
                beginSec: Long, endSec: Long,
                resolutionSec: Long, cf: String = "average"): (Long, DataFrame) =
    autoOn(spark, path, Seq((userId, eventType)), keyed = false,
      beginSec, endSec, resolutionSec, cf)

  /** [[fetchAuto]]'s step choice — the coarsest materialized step that
    * still divides the requested output resolution evenly; 0 (raw
    * samples) when none does — over [[fetchOn]]. */
  private def autoOn(spark: SparkSession, path: String,
                     series: Seq[(Long, String)], keyed: Boolean,
                     beginSec: Long, endSec: Long,
                     resolutionSec: Long, cf: String): (Long, DataFrame) = {
    require(resolutionSec > 0, s"resolutionSec must be positive: $resolutionSec")
    val meta = storeMeta(spark, path)
    val step = meta.layout.steps.filter(s => s <= resolutionSec && resolutionSec % s == 0)
      .maxOption.getOrElse(0L)
    (step, fetchOn(spark, path, meta, series, keyed, beginSec, endSec, step, cf, None))
  }

  /** Bulk fetch (POST /bulk): many series in one plan — a single
    * pruned scan with an IN-list of series keys, not a per-series
    * loop (the reference iterated; Spark shouldn't). `aggStep = 0`
    * serves raw samples (the bulk twin of [[fetch]]'s base path);
    * otherwise the full cf dispatch [[fetch]] has — value cfs from
    * `agg_<step>`, counter cfs {delta, rate} from `rate_<step>`
    * (VERDICT r5 missing #2: bulk was average-only). `atVersion`
    * (manifest layout only) serves the fetch from a RETAINED snapshot
    * instead of the live one — the time-travel dashboard read
    * ("what did this chart show before the delete?"), same pruned
    * plan, older (table, dt) → segment map. */
  def fetchBulk(spark: SparkSession, path: String,
                series: Seq[(Long, String)],
                beginSec: Long, endSec: Long, aggStep: Long,
                cf: String = "average",
                atVersion: Option[Long] = None): DataFrame =
    fetchOn(spark, path, storeMeta(spark, path), series, keyed = true,
      beginSec, endSec, aggStep, cf, atVersion)

  /** Bulk DENSE-slot fetch — [[fetchFilled]]'s REST-parity grid
    * ([[filledOn]]) for MANY series in one pruned scan: one row per
    * (requested series, step slot) over [begin, end), absent slots
    * NULL. */
  def fetchBulkFilled(spark: SparkSession, path: String,
                      series: Seq[(Long, String)],
                      beginSec: Long, endSec: Long, aggStep: Long,
                      cf: String = "average"): DataFrame =
    gatherSorted(
      filledOn(spark, path, series, keyed = true, beginSec, endSec, aggStep, cf)._2,
      "user_id", "event_type", "slot_ts")

  /** Bulk best-aggregate selection — [[fetchAuto]]'s step choice over
    * [[fetchBulk]]'s many-series single-scan plan. */
  def fetchBulkAuto(spark: SparkSession, path: String,
                    series: Seq[(Long, String)],
                    beginSec: Long, endSec: Long,
                    resolutionSec: Long, cf: String = "average"): (Long, DataFrame) =
    autoOn(spark, path, series, keyed = true, beginSec, endSec, resolutionSec, cf)
}
