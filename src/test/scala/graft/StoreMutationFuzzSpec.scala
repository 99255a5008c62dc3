package graft

import scala.util.Random

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sources.{StoreLayout, StoreManifest, TsdbStore}

/** Differential fuzzing of the store's MUTATION path (round 11):
  * TsdbStoreSpec pins upsertIncremental's
  * touched-partition contract for hand-picked cases; this spec drives
  * a random SEQUENCE of mutations — replays with changed values, new
  * events on existing days, new events on NEW days (partition
  * bootstrap), multi-day batches, interleaved small-file compactions,
  * whole-series deletions, merge-on-read deletes and vacuums — and after
  * every step compares EVERY table (base + value/rate/quant cascades
  * at both levels) against a FRESH FULL INGEST of the accumulated
  * truth. The incremental path's whole point is that its blast radius
  * is bounded; its correctness contract is that the result is
  * indistinguishable from the full rebuild, for any mutation history.
  * (dropBefore stays out of the mix by
  * design: retention truncates rate-delta lineage at the cutoff, so a
  * full rebuild of the truncated truth legitimately differs on the
  * boundary delta — its contract is pinned in TsdbStoreSpec instead.) */
class StoreMutationFuzzSpec extends SparkSpec {

  // plain tuples: a case class nested in the spec has no stable outer
  // scope for Spark's encoder
  private type Ev = (Long, String, Long, Long, Double)
  private def uid(e: Ev) = e._1
  private def etype(e: Ev) = e._2
  private def eid(e: Ev) = e._3
  private def value(e: Ev) = e._5

  private def toDf(evs: Seq[Ev]): DataFrame = {
    val spark2 = spark
    import spark2.implicits._
    evs.toDF("user_id", "event_type", "event_id", "ts_us", "value")
      .select(col("user_id"), col("event_type"), col("event_id"),
        timestamp_micros(col("ts_us")).as("ts"), col("value"))
  }

  /** Sorted row strings of one store table, empty when the table has
    * no live data — resolved through the layout's own read path, so
    * the mutated store exercises snapshot resolution on every compare. */
  private def tableRows(path: String, layout: StoreLayout,
                        table: String): Seq[String] = {
    if (layout.commit == "rename" &&
        !new java.io.File(s"$path/$table").exists()) return Seq.empty
    val df =
      try TsdbStore.readTable(spark, path, layout, table)
      catch {
        case e: IllegalArgumentException
            if e.getMessage.contains("no live data") => return Seq.empty
      }
    df.select(df.columns.sorted.map(col).toIndexedSeq: _*)
      .collect().map(_.toString).sorted.toSeq
  }

  /** Live dt partitions of one table of the mutated store. */
  private def livePartitions(path: String, table: String): Seq[String] = {
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    StoreManifest.load(fs, path).entries.keys
      .collect { case (`table`, dt) => dt }.toSeq.sorted
  }

  test("random mutation sequences equal a fresh full ingest, every table [manifest]") {
    val layout = StoreLayout(commit = "manifest")
    val T0 = 1704067200L * 1000000L // 2024-01-01 in µs
    val r = new Random(66L)
    val etypes = Seq("click", "view", "purchase")

    // initial population: 3 users × 3 types over 4 days
    var truth = Map.empty[(Long, String, Long), Ev]
    var nextId = 0L
    def mkEvent(day: Int): Ev = {
      val u = r.nextInt(3).toLong
      val et = etypes(r.nextInt(etypes.length))
      val ts = T0 + day * 86400000000L + r.nextInt(86400) * 1000000L
      val ev = (u, et, nextId, ts, (r.nextInt(9000) + 100) / 100.0)
      nextId += 1
      ev
    }
    val init = (0 until 120).map(_ => mkEvent(r.nextInt(4)))
    init.foreach(e => truth += (uid(e), etype(e), eid(e)) -> e)

    val inc = tempDir("graft_mutfuzz_inc")
    TsdbStore.ingest(spark, toDf(init), inc, layout)

    val tables = Seq("base", "agg_21600", "agg_86400", "rate_21600",
      "rate_86400", "quant_21600", "quant_86400")

    var maxNewDay = 3
    for (round <- 0 until 6) {
      // a batch mixes replays (same key, same ts — partition-preserving,
      // new value), new events on known days, and events on a NEW day
      val existing = truth.values.toVector
      val replays = (0 until r.nextInt(4) + 1).map { _ =>
        val e = existing(r.nextInt(existing.size))
        e.copy(_5 = value(e) + 1.0 + r.nextInt(100) / 100.0)
      }
      val newSameDays = (0 until r.nextInt(5) + 1).map(_ => mkEvent(r.nextInt(maxNewDay + 1)))
      val newDays = if (r.nextBoolean()) {
        maxNewDay += r.nextInt(2) + 1
        (0 until r.nextInt(3) + 1).map(_ => mkEvent(maxNewDay))
      } else Seq.empty
      val batch = replays ++ newSameDays ++ newDays
      // mirror dedupeBatch's WITHIN-batch tie rule: two same-key rows
      // in one batch resolve by max(ts_us, cents), NOT by batch order —
      // a last-in-batch truth rule would spuriously blame the store
      // when two replays of the same event land in one batch
      val batchDedup = batch.groupBy(e => (uid(e), etype(e), eid(e)))
        .map { case (k, es) => k -> es.maxBy(e => (e._4, math.round(e._5 * 100))) }
      truth ++= batchDedup

      TsdbStore.upsertIncremental(spark, toDf(batch), inc)

      // occasionally interleave a small-file compaction of a random
      // live partition of a random table — rows must be invisible to
      // the rebuild compare (compaction is a file-layout operation)
      if (r.nextInt(2) == 0) {
        val t = tables(r.nextInt(tables.length))
        val parts = livePartitions(inc, t)
        if (parts.nonEmpty)
          TsdbStore.compactPartition(spark, inc, parts(r.nextInt(parts.length)),
            targetFiles = r.nextInt(2) + 1, table = t)
      }

      // occasionally delete a random live series — eagerly (every
      // touched partition rewritten) or, half the time, as a round-17
      // MERGE-ON-READ
      // tombstone: nothing rewritten, every later table compare reads
      // THROUGH the delete filter, later upserts/compactions fold it
      // partition by partition, and a later batch may legitimately
      // RE-ADD the series (new event ids) into partitions whose refs
      // fold — the per-partition scope rule under random histories
      if (r.nextInt(3) == 0 && truth.nonEmpty) {
        val all = truth.values.toVector
        val victim = all(r.nextInt(all.size))
        if (r.nextBoolean())
          TsdbStore.deleteRows(spark, inc,
            Seq((uid(victim), etype(victim))))
        else
          TsdbStore.deleteSeries(spark, inc, uid(victim), etype(victim))
        truth = truth.filterNot { case ((u, et, _), _) =>
          u == uid(victim) && et == etype(victim)
        }
      }

      // occasionally vacuum mid-history — GC of dead segments and
      // snapshots must be invisible to every later read and mutation
      if (r.nextInt(3) == 0)
        TsdbStore.vacuum(spark, inc, keepManifests = 1 + r.nextInt(2))

      // oracle: a virgin rename-layout store built from the
      // accumulated truth (cross-layout equality is itself part of
      // the contract — both protocols must serve the same bytes)
      val full = tempDir(s"graft_mutfuzz_full_$round")
      TsdbStore.ingest(spark, toDf(truth.values.toSeq), full)
      for (t <- tables) {
        val a = tableRows(inc, layout, t)
        val b = tableRows(full, StoreLayout(), t)
        assert(a == b,
          s"round $round table $t diverged from full rebuild: " +
            s"${a.size} vs ${b.size} rows; " +
            s"first diff inc=${a.diff(b).take(2)} full=${b.diff(a).take(2)}")
      }
    }
  }
}
