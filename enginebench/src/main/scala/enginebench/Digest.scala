package enginebench

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, MapData}
import org.apache.spark.sql.types._

/** Order-insensitive digest of a result: its row count and the sum of a
  * 64-bit hash of every row. Doubles are hashed at 9 significant digits
  * and floats at 6, so a sum whose last bits depend on the order partial
  * aggregates arrive in still digests the same.
  */
final case class Digest(rows: Long, hash: Long) {
  def +(o: Digest): Digest = Digest(rows + o.rows, hash + o.hash)
}

object Digest {
  val empty: Digest = Digest(0L, 0L)

  private def mix(h: Long): Long = { // splitmix64 finalizer
    var z = h + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  private def round(d: Double, digits: Int): Double =
    if (d == 0.0 || d.isNaN || d.isInfinite) d
    else {
      val scale = math.pow(10, digits - 1 - math.floor(math.log10(math.abs(d))))
      math.rint(d * scale) / scale
    }

  private def bytes(b: Array[Byte]): Long = {
    var h = 17L
    b.foreach(x => h = mix(h * 31 + x))
    h
  }

  private def value(dt: DataType, get: => Any): Long = dt match {
    case BooleanType                  => if (get.asInstanceOf[Boolean]) 1L else 2L
    case ByteType                     => get.asInstanceOf[Byte].toLong
    case ShortType                    => get.asInstanceOf[Short].toLong
    case IntegerType | DateType       => get.asInstanceOf[Int].toLong
    case _: YearMonthIntervalType     => get.asInstanceOf[Int].toLong
    case LongType | TimestampType | TimestampNTZType => get.asInstanceOf[Long]
    case _: DayTimeIntervalType       => get.asInstanceOf[Long]
    case FloatType  => java.lang.Double.doubleToLongBits(round(get.asInstanceOf[Float].toDouble, 6))
    case DoubleType => java.lang.Double.doubleToLongBits(round(get.asInstanceOf[Double], 9))
    case _: DecimalType =>
      get.asInstanceOf[Decimal].toJavaBigDecimal.stripTrailingZeros.hashCode.toLong
    case _: StringType => bytes(get.asInstanceOf[org.apache.spark.unsafe.types.UTF8String].getBytes)
    case BinaryType => bytes(get.asInstanceOf[Array[Byte]])
    case s: StructType => row(get.asInstanceOf[InternalRow], s)
    case a: ArrayType =>
      val arr = get.asInstanceOf[ArrayData]
      var h = 23L
      for (i <- 0 until arr.numElements())
        h = mix(h * 31 + (if (arr.isNullAt(i)) 7L else value(a.elementType, arr.get(i, a.elementType))))
      h
    case m: MapType => // entries in any order
      val md = get.asInstanceOf[MapData]
      val (ks, vs) = (md.keyArray(), md.valueArray())
      var h = 29L
      for (i <- 0 until md.numElements())
        h += mix(value(m.keyType, ks.get(i, m.keyType)) * 31 +
          (if (vs.isNullAt(i)) 7L else value(m.valueType, vs.get(i, m.valueType))))
      h
    case _ => bytes(String.valueOf(get).getBytes("UTF-8"))
  }

  /** Hash of one row under `schema`, fields in order. */
  def row(r: InternalRow, schema: StructType): Long = {
    var h = 1L
    var i = 0
    while (i < schema.length) {
      val dt = schema(i).dataType
      h = mix(h * 31 + (if (r.isNullAt(i)) 7L else value(dt, r.get(i, dt))))
      i += 1
    }
    h
  }

  def of(rows: Iterator[InternalRow], schema: StructType): Digest = {
    var n = 0L
    var h = 0L
    rows.foreach { r => n += 1; h += row(r, schema) }
    Digest(n, h)
  }
}
