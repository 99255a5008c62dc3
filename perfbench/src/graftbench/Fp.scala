package graftbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, MapData}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Order-insensitive result fingerprint: the row count plus the
  * wrapping sum of a 64-bit hash of every row. It is also the sink the
  * benchmark times: the query's own physical plan runs to completion
  * (every row of every partition is produced, as a noop write would)
  * and each row is hashed on the executor, so checking a result costs
  * no second execution.
  *
  * Doubles are hashed after rounding away their lowest 20 mantissa
  * bits (a relative 2e-10), so a float sum whose partial order differs
  * between executions still fingerprints the same. */
case class Fp(rows: Long, sum: Long) {
  override def toString: String = f"$rows:$sum%016x"
}

object Fp {

  /** Execute `df` once, as a SQL execution of its own, and fingerprint
    * the rows. */
  def run(df: DataFrame): Fp = {
    val qe = df.queryExecution
    val types = df.schema.fields.map(_.dataType)
    val parts = SQLExecution.withNewExecutionId(qe, Some("perfbench")) {
      qe.executedPlan.execute().mapPartitions { it =>
        var n = 0L
        var s = 0L
        it.foreach { r => n += 1; s += row(r, types) }
        Iterator((n, s))
      }.collect()
    }
    Fp(parts.map(_._1).sum, parts.map(_._2).sum)
  }

  /** The fingerprint of rows computed outside Spark (the benchmark's
    * own oracles), hashed exactly like [[run]] hashes result rows. */
  def ofRows(rows: Iterable[Seq[Any]], types: Seq[DataType]): Fp = {
    val ts = types.toArray
    var n = 0L
    var s = 0L
    rows.foreach { vs =>
      n += 1
      s += row(InternalRow.fromSeq(vs.map {
        case x: String => UTF8String.fromString(x)
        case x => x
      }), ts)
    }
    Fp(n, s)
  }

  private def mix(h: Long): Long = {
    var z = h
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  private def roundedBits(d: Double): Long =
    if (d.isNaN) 0x7FF8000000000000L
    else if (d == 0.0) 0L
    else (java.lang.Double.doubleToRawLongBits(d) + (1L << 19)) & ~((1L << 20) - 1)

  def row(r: InternalRow, types: Array[DataType]): Long = {
    var h = 0x2545F4914F6CDD1DL
    var i = 0
    while (i < types.length) {
      h = mix(h * 31 + (if (r.isNullAt(i)) 0x1234567L else value(r.get(i, types(i)), types(i))))
      i += 1
    }
    h
  }

  private def value(v: Any, t: DataType): Long = t match {
    case DoubleType => roundedBits(v.asInstanceOf[Double])
    case FloatType => roundedBits(v.asInstanceOf[Float].toDouble)
    case _: StringType => v.asInstanceOf[UTF8String].hashCode().toLong * 0x100000001L
    case BinaryType => java.util.Arrays.hashCode(v.asInstanceOf[Array[Byte]]).toLong
    case s: StructType => row(v.asInstanceOf[InternalRow], s.fields.map(_.dataType))
    case ArrayType(et, _) =>
      val a = v.asInstanceOf[ArrayData]
      var h = 17L
      var i = 0
      while (i < a.numElements()) {
        h = mix(h * 31 + (if (a.isNullAt(i)) 0x1234567L else value(a.get(i, et), et)))
        i += 1
      }
      h
    case MapType(kt, vt, _) =>
      // map entries are unordered: sum the entry hashes
      val m = v.asInstanceOf[MapData]
      val (ks, vs) = (m.keyArray(), m.valueArray())
      var h = 0L
      var i = 0
      while (i < m.numElements()) {
        h += mix(value(ks.get(i, kt), kt) * 31 +
          (if (vs.isNullAt(i)) 0x1234567L else value(vs.get(i, vt), vt)))
        i += 1
      }
      h
    case LongType | TimestampType | TimestampNTZType => v.asInstanceOf[Long]
    case IntegerType | DateType => v.asInstanceOf[Int].toLong
    case _: DecimalType => v.asInstanceOf[org.apache.spark.sql.types.Decimal].toJavaBigDecimal
      .stripTrailingZeros().hashCode().toLong
    case _ => v.hashCode().toLong
  }
}
