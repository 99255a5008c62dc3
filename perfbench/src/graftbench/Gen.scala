package graftbench

import java.time.LocalDateTime
import java.util.SplittableRandom

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded input generators. Every generator draws from its own
  * `SplittableRandom(seed ^ salt)`, so a table's rows depend only on the
  * seed and the size — never on which other tables were generated. */
object Gen {

  def rng(seed: Long, salt: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ salt)

  def round2(x: Double): Double = Math.round(x * 100.0) / 100.0

  // ---- analytics fixture: the schemas and value profiles of the
  // declared queries' sf tables (region … embeddings) ----------------

  /** Row counts of the analytics fixture (the fact tables are about
    * 1/5 of sf0.01, so a declared query costs its fixed floor plus a
    * little data). */
  object Sizes {
    val customer = 600
    val supplier = 40
    val part = 800
    val orders = 3000
    val lineitem = 12000
    val events = 4000
    val users = 60
    val documents = 400
    val embeddings = 400
  }

  private val words = Array("row", "the", "query", "stream", "fast", "spark",
    "line", "small", "customer", "group", "value", "hash", "batch", "sort",
    "data", "big", "filter", "dup", "key", "agg", "scan", "slow", "table",
    "part", "a", "merge", "window", "order", "column", "join", "vector")
  private val langs = Array("en", "en", "en", "de", "es", "fr", "zh")
  private val segments = Array("MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE")
  private val ptypes = Array("ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO")
  private val adjs = Array("blue", "red", "hot", "cold", "small", "new", "old", "big")
  private val nouns = Array("bolt", "gear", "anvil", "ring", "rod", "plate", "widget", "nut")
  private val priorities = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val eventTypes = Array("click", "error", "purchase", "signup", "view")

  private def pick[A](r: SplittableRandom, xs: Array[A]): A = xs(r.nextInt(xs.length))

  private def utc(t: LocalDateTime): java.time.Instant = t.toInstant(java.time.ZoneOffset.UTC)

  private def day(r: SplittableRandom, from: LocalDateTime, days: Int): java.time.Instant =
    utc(from.plusDays(r.nextInt(days).toLong))

  private def f(name: String, t: DataType) = StructField(name, t, nullable = false)

  /** name → (schema, rows) for every table the declared queries read. */
  def analyticsTables(seed: Long): Seq[(String, StructType, IndexedSeq[Row])] = {
    val z = Sizes
    val region = (StructType(Seq(f("r_regionkey", IntegerType), f("r_name", StringType))),
      IndexedSeq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
        .zipWithIndex.map { case (n, i) => Row(i, n) })
    val nation = (StructType(Seq(f("n_nationkey", IntegerType), f("n_name", StringType),
        f("n_regionkey", IntegerType))),
      (0 until 25).map(i => Row(i, s"NATION_$i", i % 5)))
    val customer = {
      val r = rng(seed, 1)
      (StructType(Seq(f("c_custkey", LongType), f("c_name", StringType),
          f("c_nationkey", IntegerType), f("c_acctbal", DoubleType),
          f("c_mktsegment", StringType))),
        (0 until z.customer).map(i => Row(i.toLong, f"Customer#$i%09d", r.nextInt(25),
          round2(r.nextDouble(-999.99, 9999.99)), pick(r, segments))))
    }
    val supplier = {
      val r = rng(seed, 2)
      (StructType(Seq(f("s_suppkey", LongType), f("s_name", StringType),
          f("s_nationkey", IntegerType), f("s_acctbal", DoubleType))),
        (0 until z.supplier).map(i => Row(i.toLong, f"Supplier#$i%09d", r.nextInt(25),
          round2(r.nextDouble(-999.99, 9999.99)))))
    }
    val part = {
      val r = rng(seed, 3)
      (StructType(Seq(f("p_partkey", LongType), f("p_name", StringType),
          f("p_brand", StringType), f("p_type", StringType), f("p_size", IntegerType),
          f("p_retailprice", DoubleType))),
        (0 until z.part).map(i => Row(i.toLong, s"${pick(r, adjs)} ${pick(r, nouns)}",
          s"Brand#${1 + r.nextInt(25)}", pick(r, ptypes), 1 + r.nextInt(50),
          round2(900.0 + (i % 1000) / 10.0))))
    }
    val d95 = LocalDateTime.of(1995, 1, 1, 0, 0)
    val orders = {
      val r = rng(seed, 4)
      (StructType(Seq(f("o_orderkey", LongType), f("o_custkey", LongType),
          f("o_orderstatus", StringType), f("o_totalprice", DoubleType),
          f("o_orderdate", TimestampType), f("o_orderpriority", StringType))),
        (0 until z.orders).map(i => Row(i.toLong, r.nextInt(z.customer).toLong,
          pick(r, Array("F", "O", "P")), round2(r.nextDouble(1000.0, 500000.0)),
          day(r, d95, 2404), pick(r, priorities))))
    }
    val lineitem = {
      val r = rng(seed, 5)
      (StructType(Seq(f("l_orderkey", LongType), f("l_partkey", LongType),
          f("l_suppkey", LongType), f("l_linenumber", IntegerType),
          f("l_quantity", DoubleType), f("l_extendedprice", DoubleType),
          f("l_discount", DoubleType), f("l_tax", DoubleType),
          f("l_returnflag", StringType), f("l_linestatus", StringType),
          f("l_shipdate", TimestampType))),
        (0 until z.lineitem).map { _ =>
          val q = (1 + r.nextInt(50)).toDouble
          Row(r.nextInt(z.orders).toLong, r.nextInt(z.part).toLong,
            r.nextInt(z.supplier).toLong, 1 + r.nextInt(7), q,
            round2(q * r.nextDouble(900.0, 2100.0)), r.nextInt(11) / 100.0,
            r.nextInt(9) / 100.0, pick(r, Array("A", "N", "R")), pick(r, Array("F", "O")),
            day(r, d95.plusDays(1), 2498))
        })
    }
    val events = {
      val r = rng(seed, 6)
      val t0 = LocalDateTime.of(2024, 1, 1, 0, 0)
      val spanUs = 30L * 86400L * 1000000L
      val ts = Array.fill(z.events)(r.nextLong(spanUs)).sorted
      (StructType(Seq(f("event_id", LongType), f("ts", TimestampType),
          f("user_id", LongType), f("event_type", StringType), f("value", DoubleType),
          f("props", StringType))),
        ts.indices.map(i => Row(i.toLong, utc(t0.plusNanos(ts(i) * 1000L)),
          r.nextInt(z.users).toLong, pick(r, eventTypes),
          Math.max(0.01, round2(-50.0 * Math.log(1.0 - r.nextDouble()))),
          s"""{"k": ${r.nextInt(100)}}""")))
    }
    val documents = {
      val r = rng(seed, 7)
      (StructType(Seq(f("doc_id", LongType), f("text", StringType), f("lang", StringType),
          f("source", StringType), f("n_chars", LongType))),
        (0 until z.documents).map { i =>
          val text = Seq.fill(8 + r.nextInt(82))(pick(r, words)).mkString(" ")
          Row(i.toLong, text, pick(r, langs), s"src${i % 20}", text.length.toLong)
        })
    }
    val embeddings = {
      val r = rng(seed, 8)
      (StructType(Seq(f("vec_id", LongType),
          f("embedding", ArrayType(FloatType, containsNull = true)), f("label", IntegerType))),
        (0 until z.embeddings).map { i =>
          val v = Array.fill(64)(gaussian(r))
          val norm = Math.sqrt(v.map(x => x * x).sum)
          Row(i.toLong, v.map(x => (x / norm).toFloat).toSeq, r.nextInt(10))
        })
    }
    Seq("region" -> region, "nation" -> nation, "customer" -> customer,
      "supplier" -> supplier, "part" -> part, "orders" -> orders,
      "lineitem" -> lineitem, "events" -> events, "documents" -> documents,
      "embeddings" -> embeddings).map { case (n, (s, rows)) => (n, s, rows) }
  }

  private def gaussian(r: SplittableRandom): Double = {
    // Box-Muller; 1 - u keeps the log argument in (0, 1]
    val u = 1.0 - r.nextDouble()
    Math.sqrt(-2.0 * Math.log(u)) * Math.cos(2.0 * Math.PI * r.nextDouble())
  }

  /** Write the analytics tables as `<dir>/<name>.parquet`, the layout
    * `graft.Tables` reads. Returns the rows written. */
  def writeTables(spark: SparkSession, dir: String,
                  tables: Seq[(String, StructType, IndexedSeq[Row])]): Long =
    tables.map { case (name, schema, rows) =>
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
        .coalesce(1).write.parquet(s"$dir/$name.parquet")
      rows.size.toLong
    }.sum

  // ---- SNMP-like series for the store workloads ----------------------

  /** One sample of an events-shaped feed (the shape `TsdbStore.ingest`
    * normalizes). `cents` is the exact integer the store keeps. */
  case class Sample(userId: Long, eventType: String, eventId: Long, tsUs: Long, cents: Long)

  val DenseStepSec = 30L
  /** Store epoch: every store workload's series start here. */
  val EpochSec: Long = LocalDateTime.of(2024, 3, 1, 0, 0)
    .toEpochSecond(java.time.ZoneOffset.UTC)

  /** Counter readings in cents wrap at `graft.Tables.WrapCap`, as a
    * 32-bit SNMP counter wraps. */
  private val Wrap = graft.Tables.WrapCap

  /** Dense series poll every 30 s with ±2 s jitter and ~1% lost polls;
    * sparse series report 2–6 times a day. Series (user_id, event_type):
    * dense ids 0 until `dense` × {in_octets, out_octets}, sparse ids
    * 1000 until 1000 + `sparse` × {errors}. Event ids are unique per
    * series and ascending in time. */
  def series(seed: Long, dense: Int, sparse: Int, days: Int): Vector[Sample] = {
    val out = Vector.newBuilder[Sample]
    val endUs = (EpochSec + days * 86400L) * 1000000L
    for (u <- 0 until dense; (et, k) <- Seq("in_octets", "out_octets").zipWithIndex) {
      val r = rng(seed, 100L + u * 2 + k)
      var counter = r.nextLong(Wrap)
      var id = 0L
      var slot = EpochSec
      val rateCents = 200 + r.nextInt(4000)
      while (slot * 1000000L < endUs) {
        if (r.nextInt(100) != 0) {
          counter = (counter + rateCents + r.nextInt(rateCents)) % Wrap
          val tsUs = slot * 1000000L + 2000000L + r.nextLong(4000000L) - 2000000L
          out += Sample(u.toLong, et, id, Math.max(tsUs, EpochSec * 1000000L), counter)
          id += 1
        }
        slot += DenseStepSec
      }
    }
    for (u <- 0 until sparse) {
      val r = rng(seed, 50000L + u)
      var id = 0L
      for (d <- 0 until days) {
        val n = 2 + r.nextInt(5)
        val dayUs = (EpochSec + d * 86400L) * 1000000L
        Array.fill(n)(r.nextLong(86400L * 1000000L)).sorted.foreach { off =>
          out += Sample(1000L + u, "errors", id, dayUs + off, r.nextLong(50000L))
          id += 1
        }
      }
    }
    out.result()
  }

  val SampleSchema: StructType = StructType(Seq(f("user_id", LongType),
    f("event_type", StringType), f("event_id", LongType),
    f("ts", TimestampType), f("value", DoubleType)))

  /** The events-shaped frame `TsdbStore.ingest`/`upsertIncremental`
    * take; `value` carries the cents exactly (cents / 100). */
  def samplesFrame(spark: SparkSession, xs: Seq[Sample]): org.apache.spark.sql.DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(xs.map(s => Row(s.userId, s.eventType,
      s.eventId, java.time.Instant.ofEpochSecond(0L, s.tsUs * 1000L), s.cents / 100.0)): _*),
      SampleSchema)
}
