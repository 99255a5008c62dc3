package graftbench

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.TsdbStore

/** `tsdb_dashboard`: reference-style REST reads against a store that
  * set-up builds with `TsdbStore.ingest` under the default layout
  * (6 h and 1 d cascades, 6 h heartbeat).
  *
  * Why: this is the reference's own traffic. Each request is small, so
  * store resolution, planning and the stage chain set its cost, and it
  * is the only workload where cascade selection and
  * `RollupSubstitution` decide the bytes read. Dense (30 s) and sparse
  * (a few a day) series are mixed so that a rewrite that wins on one
  * density and loses on the other shows both effects. */
object Dashboard {

  val Devices = 2      // dense series: device × {in_octets, out_octets}
  val Sparse = 6       // sparse series: {errors}
  val Days = 8
  val Steps = Seq(21600L, 86400L)
  val Heartbeat = 21600L

  final case class Req(i: Int, kind: String, series: Seq[(Long, String)], begin: Long,
                       end: Long, step: Long, cf: String = "average", q: Double = 0.0,
                       fill: String = "null")

  val StoreEnd: Long = Gen.EpochSec + Days * 86400L
  private val H = 3600L
  private val D = 86400L

  /** One pool slot: the request's shape. `step` is the cascade step,
    * the `auto` resolution or the `slotagg` slot; `param` the cf, the
    * quantile, the fill, or for `slotagg` whether bounds are aligned. */
  private final case class Slot(kind: String, len: Long, step: Long, param: String,
                                dense: Boolean, recent: Boolean)

  /** The pool's shapes are fixed, so every seed's pool costs about the
    * same; the seed draws the series and where each range ends. 15 of
    * 21 read a dense series; 15 of 21 end within the last day. The
    * count is odd so that the median of whole passes falls inside one
    * request's samples rather than between two requests. */
  private val Slots = IndexedSeq(
    Slot("raw", H, 0L, "", dense = true, recent = true),
    Slot("raw", D, 0L, "", dense = true, recent = false),
    Slot("raw", 6 * H, 0L, "", dense = false, recent = true),
    Slot("agg", D, 21600L, "average", dense = true, recent = true),
    Slot("agg", 7 * D, 86400L, "max", dense = true, recent = false),
    Slot("agg", 3 * D, 21600L, "min", dense = false, recent = true),
    Slot("counter", D, 21600L, "rate", dense = true, recent = true),
    Slot("counter", 7 * D, 86400L, "delta", dense = false, recent = true),
    Slot("counter", 3 * D, 86400L, "rate", dense = true, recent = false),
    Slot("bulk", 6 * H, 21600L, "average", dense = true, recent = true),
    Slot("bulk", 3 * D, 21600L, "average", dense = true, recent = false),
    Slot("quantile", D, 21600L, "0.95", dense = true, recent = true),
    Slot("quantile", 7 * D, 86400L, "0.5", dense = false, recent = true),
    Slot("filled", 3 * D, 21600L, "interp", dense = true, recent = true),
    Slot("filled", D, 21600L, "null", dense = false, recent = false),
    Slot("auto", 6 * H, H, "", dense = true, recent = true),
    Slot("auto", 7 * D, D, "", dense = true, recent = true),
    Slot("slotagg", 3 * D, 12 * H, "aligned", dense = true, recent = true),
    Slot("slotagg", D, D, "unaligned", dense = true, recent = true),
    Slot("slotagg", 7 * D, D, "aligned", dense = false, recent = true),
    Slot("slotagg", 3 * D, 12 * H, "unaligned", dense = true, recent = false))

  val Kinds: IndexedSeq[String] = Slots.map(_.kind)

  /** The seeded request pool. */
  def pool(seed: Long): IndexedSeq[Req] = Slots.indices.map { i =>
    val r = Gen.rng(seed, 7000L + i)
    val x = Slots(i)
    def dense() = (r.nextInt(Devices).toLong, if (r.nextBoolean()) "in_octets" else "out_octets")
    def sparse() = (1000L + r.nextInt(Sparse), "errors")
    val series = x.kind match {
      case "bulk" => Seq(dense(), dense(), sparse()).distinct
      case _ => Seq(if (x.dense) dense() else sparse())
    }
    val end =
      if (x.recent) StoreEnd - r.nextLong(D)
      else StoreEnd - D - r.nextLong(Days * D - D - x.len + 1)
    val begin = end - x.len
    x.kind match {
      case "slotagg" if x.param == "aligned" =>
        // the rewrite can serve an aligned range wholly from a cascade;
        // an unaligned one has partial slots at both ends
        Req(i, x.kind, series, begin - begin % x.step, end - end % x.step + x.step, x.step)
      case "quantile" => Req(i, x.kind, series, begin, end, x.step, q = x.param.toDouble)
      case "filled" => Req(i, x.kind, series, begin, end, x.step, fill = x.param)
      case _ => Req(i, x.kind, series, begin, end, x.step, cf = x.param)
    }
  }

  /** The events-shaped feed set-up ingests. */
  def samples(seed: Long): Vector[Gen.Sample] = Gen.series(seed, Devices, Sparse, Days)

  private def q(s: String) = "'" + s.replace("'", "''") + "'"

  /** The request's frame, built through the public surface a client
    * would use: the Scala fetch API, or SQL over the graft_fetch* table
    * functions for the bulk, quantile and filled kinds. */
  def build(spark: SparkSession, store: String, x: Req): DataFrame = {
    val (u, et) = x.series.head
    x.kind match {
      case "raw" => TsdbStore.fetch(spark, store, u, et, x.begin, x.end)
      case "agg" | "counter" => TsdbStore.fetch(spark, store, u, et, x.begin, x.end, x.step, x.cf)
      case "auto" => TsdbStore.fetchAuto(spark, store, u, et, x.begin, x.end, x.step)._2
      case "bulk" =>
        val keys = x.series.map { case (a, b) => s"$a, ${q(b)}" }.mkString(", ")
        spark.sql(s"SELECT * FROM graft_fetch_bulk(${q(store)}, ${x.begin}, ${x.end}, " +
          s"${x.step}, 'average', $keys)")
      case "quantile" =>
        spark.sql(s"SELECT * FROM graft_fetch_quantile(${q(store)}, $u, ${q(et)}, " +
          s"${x.begin}, ${x.end}, ${x.step}, ${x.q})")
      case "filled" =>
        spark.sql(s"SELECT * FROM graft_fetch_filled(${q(store)}, $u, ${q(et)}, " +
          s"${x.begin}, ${x.end}, ${x.step}, 'average', ${q(x.fill)})")
      case "slotagg" =>
        spark.read.parquet(s"$store/base")
          .filter(col("user_id") === u && col("event_type") === et)
          .filter(col("ts_us") >= x.begin * 1000000L && col("ts_us") < x.end * 1000000L)
          .groupBy(col("user_id"), col("event_type"),
            graft.operators.TimeSeriesOps.slotSec(x.step).as("slot_ts"))
          .agg(count(lit(1)).as("n"), sum("cents").as("sum_cents"),
            min("cents").as("min_cents"), max("cents").as("max_cents"))
    }
  }

  /** Whether the optimized plan reads a cascade table (the rewrite
    * fired) rather than `base`. */
  def rollupFired(df: DataFrame): Boolean = {
    def leaves(p: LogicalPlan): Seq[String] = p.collectLeaves().flatMap {
      case l: LogicalRelation => l.relation match {
        case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
          h.location.rootPaths.map(_.toString)
        case _ => Nil
      }
      case _ => Nil
    } ++ p.subqueries.flatMap(leaves)
    leaves(df.queryExecution.optimizedPlan)
      .exists(p => "/(agg|rate|quant)_\\d+".r.findFirstIn(p).isDefined)
  }

  // ---- oracles: expected results computed from the generated samples
  // with the same IEEE expressions the store's read paths evaluate ----

  private val Cap = graft.Tables.WrapCap

  final class Truth(xs: Vector[Gen.Sample]) {
    val bySeries: Map[(Long, String), Vector[Gen.Sample]] =
      xs.groupBy(s => (s.userId, s.eventType)).view
        .mapValues(_.sortBy(s => (s.tsUs, s.eventId))).toMap

    private def slotOf(tsUs: Long, step: Long) = Math.floorDiv(tsUs, step * 1000000L) * step

    def raw(k: (Long, String), b: Long, e: Long): Seq[Seq[Any]] =
      bySeries(k).filter(s => s.tsUs >= b * 1000000L && s.tsUs < e * 1000000L)
        .map(s => Seq[Any](s.tsUs, s.cents.toDouble / 100.0))

    /** slot → (n, sum, min, max) of the samples in slots [b, e). */
    def cells(k: (Long, String), b: Long, e: Long, step: Long): Seq[(Long, (Long, Long, Long, Long))] =
      bySeries(k).groupBy(s => slotOf(s.tsUs, step)).toSeq
        .filter { case (slot, _) => slot >= b && slot < e }
        .map { case (slot, ss) =>
          val c = ss.map(_.cents)
          slot -> ((c.size.toLong, c.sum, c.min, c.max))
        }.sortBy(_._1)

    def value(cf: String, c: (Long, Long, Long, Long)): Double = cf match {
      case "average" => c._2.toDouble / 100.0 / c._1.toDouble
      case "min" => c._3.toDouble / 100.0
      case "max" => c._4.toDouble / 100.0
    }

    def agg(k: (Long, String), b: Long, e: Long, step: Long, cf: String): Seq[Seq[Any]] =
      cells(k, b, e, step).map { case (slot, c) => Seq[Any](slot, value(cf, c)) }

    def counter(k: (Long, String), b: Long, e: Long, step: Long, cf: String): Seq[Seq[Any]] = {
      val ss = bySeries(k)
      val deltas = ss.zip(ss.drop(1)).collect {
        case (p, c) if c.tsUs - p.tsUs <= Heartbeat * 1000000L =>
          (slotOf(c.tsUs, step), ((c.cents - p.cents) % Cap + Cap) % Cap, c.tsUs - p.tsUs)
      }
      deltas.groupBy(_._1).toSeq.filter { case (slot, _) => slot >= b && slot < e }
        .map { case (slot, ds) =>
          val (d, dt) = (ds.map(_._2).sum, ds.map(_._3).sum)
          Seq[Any](slot, cf match {
            case "delta" => d.toDouble / 100.0
            case "rate" => if (dt > 0) (d.toDouble / 100.0) / (dt.toDouble / 1000000.0) else null
          })
        }
    }

    def filled(k: (Long, String), b: Long, e: Long, step: Long, fill: String): Seq[Seq[Any]] = {
      val first = Math.floorDiv(b, step) * step
      val have = cells(k, first, e, step).map { case (s, c) => s -> value("average", c) }.toMap
      val grid = (first until e by step).map(s => (s, have.get(s)))
      if (fill == "null") grid.map { case (s, v) => Seq[Any](s, v.orNull) }
      else grid.map { case (s, v) =>
        val prev = grid.filter(g => g._1 <= s && g._2.isDefined).lastOption
        val next = grid.find(g => g._1 >= s && g._2.isDefined)
        Seq[Any](s, v.map(Double.box).orElse(for ((pt, pv) <- prev; (nt, nv) <- next) yield {
          Double.box(pv.get + (nv.get - pv.get) * ((s - pt).toDouble / (nt - pt).toDouble))
        }).orNull)
      }
    }

    def slotagg(k: (Long, String), b: Long, e: Long, slot: Long): Seq[Seq[Any]] =
      bySeries(k).filter(s => s.tsUs >= b * 1000000L && s.tsUs < e * 1000000L)
        .groupBy(s => slotOf(s.tsUs, slot)).toSeq.map { case (sl, ss) =>
          val c = ss.map(_.cents)
          Seq[Any](k._1, k._2, sl, c.size.toLong, c.sum, c.min, c.max)
        }

    /** The expected fingerprint, or None where the result is checked
      * another way (quantile: an estimate above 512 samples a slot). */
    def expect(x: Req): Option[Fp] = {
      val k = x.series.head
      val L = LongType; val Dbl = DoubleType; val S = StringType
      x.kind match {
        case "raw" => Some(Fp.ofRows(raw(k, x.begin, x.end), Seq(L, Dbl)))
        case "agg" => Some(Fp.ofRows(agg(k, x.begin, x.end, x.step, x.cf), Seq(L, Dbl)))
        case "counter" => Some(Fp.ofRows(counter(k, x.begin, x.end, x.step, x.cf), Seq(L, Dbl)))
        case "auto" =>
          val step = Steps.filter(s => s <= x.step && x.step % s == 0).maxOption.getOrElse(0L)
          Some(Fp.ofRows(if (step == 0L) raw(k, x.begin, x.end)
            else agg(k, x.begin, x.end, step, "average"), Seq(L, Dbl)))
        case "bulk" => Some(Fp.ofRows(x.series.flatMap(s =>
          agg(s, x.begin, x.end, x.step, "average").map(r => Seq[Any](s._1, s._2) ++ r)),
          Seq(L, S, L, Dbl)))
        case "filled" => Some(Fp.ofRows(filled(k, x.begin, x.end, x.step, x.fill), Seq(L, Dbl)))
        case "slotagg" => Some(Fp.ofRows(slotagg(k, x.begin, x.end, x.step),
          Seq(L, S, L, L, L, L, L)))
        case "quantile" => None
      }
    }

    /** A quantile result is right when it has one row per non-empty
      * slot and each value lies within its slot's sample range. */
    def quantileOk(x: Req, rows: Seq[(Long, Double)]): Boolean = {
      val want = cells(x.series.head, x.begin, x.end, x.step).toMap
      rows.size == want.size && rows.forall { case (slot, v) =>
        want.get(slot).exists { case (_, _, lo, hi) => v >= lo / 100.0 && v <= hi / 100.0 }
      }
    }
  }

  private val Rewrite = "spark.graft.rollup.rewrite"

  def run(spark: SparkSession, o: Opts, tr: Tracer): Measured = {
    spark.conf.set(Rewrite, "true")
    val xs = samples(o.seed)
    val truth = new Truth(xs)
    val feed = Gen.samplesFrame(spark, xs).cache()
    feed.count()
    val (store, setupMs) = Harness.setups(s"${o.work}/dashboard", 3) { dir =>
      TsdbStore.ingest(spark, feed, dir)
    }
    feed.unpersist()
    Harness.log("set-up done")
    val reqs = pool(o.seed)
    var attempted = 0
    var failed = 0
    // warm-up pass: every pool request once, checked against its oracle
    // (and the slot aggregate against the same request with the rewrite
    // off); its fingerprints are what every timed execution must repeat
    val fired = scala.collection.mutable.ArrayBuffer.empty[Boolean]
    val want: Map[Int, Fp] = reqs.map { x =>
      attempted += 1
      val df = build(spark, store, x)
      val (fp, ok) = x.kind match {
        case "quantile" =>
          val rows = df.collect().toSeq.map(r => (r.getLong(0), r.getDouble(1)))
          (Fp.ofRows(rows.map { case (a, b) => Seq[Any](a, b) }, Seq(LongType, DoubleType)),
            truth.quantileOk(x, rows))
        case "slotagg" =>
          val fp = Fp.run(df)
          fired += rollupFired(df)
          spark.conf.set(Rewrite, "false")
          val off = try Fp.run(build(spark, store, x)) finally spark.conf.set(Rewrite, "true")
          (fp, truth.expect(x).contains(fp) && off == fp)
        case _ =>
          val fp = Fp.run(df)
          (fp, truth.expect(x).contains(fp))
      }
      if (!ok) {
        failed += 1
        System.err.println(s"[perfbench] wrong result: $x ($fp, want ${truth.expect(x)})")
      }
      x.i -> fp
    }.toMap
    Harness.log("warm-up done")
    val (samplesOut, loopSec, cpu) = Harness.loop(o, reqs) { (x, traced) =>
      tr.request(x.kind, traced) { r =>
        val fp = Harness.execute(tr, r, build(spark, store, x))
        (x.kind, tr.span(r, "verify")(fp == want(x.i)))
      }
    }
    val timed = samplesOut.filterNot(_.traced)
    attempted += timed.size
    failed += timed.count(!_.ok)
    val bytes = Harness.du(new File(s"$store/base"))._1
    val files = Harness.du(new File(store))._2
    Measured(setupMs, samplesOut, loopSec, cpu, attempted, failed, Map(
      "plans.rollup_fired" -> fired.count(identity).toDouble,
      "plans.rollup_declined" -> fired.count(!_).toDouble,
      "sources.ingest_rows_per_s" -> xs.size / (Stats.median(setupMs) / 1000.0),
      "sources.store_bytes_per_row" -> bytes.toDouble / xs.size,
      "sources.store_files" -> files.toDouble))
  }
}
