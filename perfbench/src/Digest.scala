package perfbench

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, MapData}
import org.apache.spark.sql.types._

/** Order-insensitive digest of a result: every row is hashed to 64 bits and
  * the hashes are summed (mod 2^64) together with the row count, so any
  * permutation of the same multiset of rows gives the same digest while a
  * changed, missing or extra row changes it.
  *
  * Doubles are rounded to 24 mantissa bits (float precision) before hashing:
  * a fitted statistic that differs in its last bit because partial
  * aggregates merged in another order must not read as a wrong answer, while
  * any error above ~1e-7 relative still does. */
object Digest {

  final case class Acc(rows: Long, sum: Long) {
    def +(o: Acc): Acc = Acc(rows + o.rows, sum + o.sum)
    override def toString: String = f"$rows%d:$sum%016x"
  }
  val Zero: Acc = Acc(0L, 0L)

  private def mix(h: Long): Long = {
    var z = h
    z = (z ^ (z >>> 33)) * 0xff51afd7ed558ccdL
    z = (z ^ (z >>> 33)) * 0xc4ceb9fe1a85ec53L
    z ^ (z >>> 33)
  }
  private def step(h: Long, v: Long): Long = mix(h * 31 + v)

  private def dbl(d: Double): Long =
    if (d.isNaN) 0x7ff8000000000000L
    else if (d == 0.0) 0L
    else {
      val b = java.lang.Double.doubleToRawLongBits(d)
      (b + (1L << 27)) & ~((1L << 28) - 1)
    }

  private def bytes(a: Array[Byte]): Long = {
    var h = 0x9e3779b97f4a7c15L
    var i = 0
    while (i < a.length) { h = step(h, a(i).toLong); i += 1 }
    step(h, a.length.toLong)
  }

  private def value(v: Any, dt: DataType): Long =
    if (v == null) 0x5bd1e995L
    else dt match {
      case DoubleType => dbl(v.asInstanceOf[Double])
      case FloatType => dbl(v.asInstanceOf[Float].toDouble)
      case BooleanType => if (v.asInstanceOf[Boolean]) 1L else 2L
      case ByteType => v.asInstanceOf[Byte].toLong
      case ShortType => v.asInstanceOf[Short].toLong
      case IntegerType | DateType => v.asInstanceOf[Int].toLong
      case LongType | TimestampType | TimestampNTZType => v.asInstanceOf[Long]
      case _: StringType => bytes(v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String].getBytes)
      case BinaryType => bytes(v.asInstanceOf[Array[Byte]])
      case _: DecimalType =>
        bytes(v.asInstanceOf[org.apache.spark.sql.types.Decimal].toJavaBigDecimal
          .stripTrailingZeros.toPlainString.getBytes("UTF-8"))
      case ArrayType(et, _) =>
        val a = v.asInstanceOf[ArrayData]
        var h = 17L
        var i = 0
        while (i < a.numElements()) {
          h = step(h, if (a.isNullAt(i)) 0x5bd1e995L else value(a.get(i, et), et))
          i += 1
        }
        step(h, a.numElements().toLong)
      case MapType(kt, vt, _) =>
        // map entries hash order-insensitively, like rows
        val m = v.asInstanceOf[MapData]
        val ks = m.keyArray()
        val vs = m.valueArray()
        var s = 0L
        var i = 0
        while (i < m.numElements()) {
          s += mix(step(value(ks.get(i, kt), kt),
            if (vs.isNullAt(i)) 0x5bd1e995L else value(vs.get(i, vt), vt)))
          i += 1
        }
        step(s, m.numElements().toLong)
      case st: StructType => row(v.asInstanceOf[InternalRow], st)
      case other => bytes(v.toString.getBytes("UTF-8")) // fixed per type; never hit by the workloads
    }

  def row(r: InternalRow, schema: StructType): Long = {
    var h = 23L
    var i = 0
    while (i < schema.length) {
      val dt = schema(i).dataType
      h = step(h, if (r.isNullAt(i)) 0x5bd1e995L else value(r.get(i, dt), dt))
      i += 1
    }
    mix(h)
  }

  /** Executes the full physical plan (`queryExecution.toRdd`, the same
    * action as `graft.Bench`: no column pruning of the declared output) and
    * digests every row inside the tasks, so the result never leaves the
    * executors. */
  def ofPlan(df: DataFrame): Acc = {
    val schema = df.schema
    df.queryExecution.toRdd.mapPartitions { it =>
      var n = 0L
      var s = 0L
      it.foreach { r => s += row(r, schema); n += 1 }
      Iterator((n, s))
    }.collect().foldLeft(Zero) { case (a, (n, s)) => a + Acc(n, s) }
  }

  /** Digest of rows already collected to the driver. */
  def ofRows(rows: Array[Row], schema: StructType): Acc = {
    val toInternal = org.apache.spark.sql.catalyst.CatalystTypeConverters
      .createToCatalystConverter(schema)
    rows.foldLeft(Zero) { (a, r) =>
      a + Acc(1L, row(toInternal(r).asInstanceOf[InternalRow], schema))
    }
  }
}
