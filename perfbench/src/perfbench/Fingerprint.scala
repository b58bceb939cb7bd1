package perfbench

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, MapData}
import org.apache.spark.sql.types._

/** An order-independent result fingerprint: the row count plus the
  * wrapping sum of one 64-bit hash per row. Two results with the same
  * multiset of rows fold to the same value whatever order or
  * partitioning delivered them.
  *
  * Floating-point values are hashed with their lowest mantissa bits
  * cleared (32 of 52 significand bits kept for doubles, 16 of 23 for
  * floats), so a last-place difference from a different summation
  * order does not read as a wrong answer, while any real change does.
  */
final case class Fingerprint(rows: Long, hash: Long) {
  def +(o: Fingerprint): Fingerprint = Fingerprint(rows + o.rows, hash + o.hash)
  /** Compact text form stored in the golden files. */
  def show: String = s"$rows:${java.lang.Long.toHexString(hash)}"
}

object Fingerprint {
  val Empty: Fingerprint = Fingerprint(0L, 0L)

  /** 64-bit finalizer (the murmur3 fmix64 step). */
  def mix(h0: Long): Long = {
    var h = h0
    h ^= h >>> 33; h *= 0xff51afd7ed558ccdL
    h ^= h >>> 33; h *= 0xc4ceb9fe1a85ec53L
    h ^= h >>> 33
    h
  }

  /** Order-dependent combination of a running hash and the next part. */
  def combine(acc: Long, part: Long): Long = mix(acc * 31 + part)

  private val Null = 0x6e756c6cL // "null"

  def hashBytes(b: Array[Byte]): Long = {
    var h = 0x9e3779b97f4a7c15L ^ b.length
    var i = 0
    while (i + 8 <= b.length) {
      var w = 0L
      var j = 0
      while (j < 8) { w |= (b(i + j) & 0xffL) << (8 * j); j += 1 }
      h = combine(h, w)
      i += 8
    }
    var tail = 0L
    var j = 0
    while (i < b.length) { tail |= (b(i) & 0xffL) << (8 * j); i += 1; j += 1 }
    combine(h, tail)
  }

  def hashDouble(d: Double): Long =
    if (d.isNaN) 0x7ff8000000000000L
    else if (d == 0.0) 0L // +0.0 and -0.0 are equal
    else java.lang.Double.doubleToRawLongBits(d) & ~((1L << 20) - 1)

  def hashFloat(f: Float): Long =
    if (f.isNaN) 0x7fc00000L
    else if (f == 0.0f) 0L
    else (java.lang.Float.floatToRawIntBits(f) & ~((1 << 7) - 1)).toLong

  /** Hash of one value of type `dt` read from a row/array accessor. */
  private def hashValue(dt: DataType, get: DataType => Any): Long = dt match {
    case DoubleType => hashDouble(get(dt).asInstanceOf[Double])
    case FloatType => hashFloat(get(dt).asInstanceOf[Float])
    case BooleanType => if (get(dt).asInstanceOf[Boolean]) 1L else 2L
    case ByteType | ShortType | IntegerType | DateType | LongType |
        TimestampType | TimestampNTZType | _: YearMonthIntervalType |
        _: DayTimeIntervalType =>
      get(dt) match {
        case b: Byte => b.toLong
        case s: Short => s.toLong
        case i: Int => i.toLong
        case l: Long => l
        case other => hashBytes(String.valueOf(other).getBytes(UTF_8))
      }
    case _: StringType => hashBytes(get(dt).toString.getBytes(UTF_8))
    case BinaryType => hashBytes(get(dt).asInstanceOf[Array[Byte]])
    case d: DecimalType =>
      hashBytes(get(d).asInstanceOf[Decimal].toJavaBigDecimal
        .stripTrailingZeros.toPlainString.getBytes(UTF_8))
    case ArrayType(et, _) => hashArray(get(dt).asInstanceOf[ArrayData], et)
    case st: StructType =>
      hashRow(get(dt).asInstanceOf[InternalRow], st.fields.map(_.dataType))
    case MapType(kt, vt, _) =>
      // map entry order is not part of a map's value
      val m = get(dt).asInstanceOf[MapData]
      val ks = m.keyArray(); val vs = m.valueArray()
      var h = 0x6d6170L
      var i = 0
      while (i < m.numElements()) {
        h += combine(elem(ks, i, kt), elem(vs, i, vt))
        i += 1
      }
      mix(h)
    case other => hashBytes(String.valueOf(get(other)).getBytes(UTF_8))
  }

  private def elem(a: ArrayData, i: Int, et: DataType): Long =
    if (a.isNullAt(i)) Null else hashValue(et, t => a.get(i, t))

  private def hashArray(a: ArrayData, et: DataType): Long = {
    var h = 0x617272L ^ a.numElements()
    var i = 0
    while (i < a.numElements()) { h = combine(h, elem(a, i, et)); i += 1 }
    h
  }

  /** Hash of one row; column order matters, as it does to a client. */
  def hashRow(row: InternalRow, types: Array[DataType]): Long = {
    var h = 0x726f77L
    var i = 0
    while (i < types.length) {
      val v = if (row.isNullAt(i)) Null else hashValue(types(i), t => row.get(i, t))
      h = combine(h, v)
      i += 1
    }
    mix(h)
  }

  /** Materialized payload size of one row in bytes: 8 per fixed-width
    * value, the byte length of strings and binaries, summed through
    * arrays, structs and maps. */
  def rowBytes(row: InternalRow, types: Array[DataType]): Long = {
    var n = 0L
    var i = 0
    while (i < types.length) {
      if (!row.isNullAt(i)) n += valueBytes(types(i), t => row.get(i, t))
      i += 1
    }
    n
  }

  private def valueBytes(dt: DataType, get: DataType => Any): Long = dt match {
    case _: StringType => get(dt).asInstanceOf[org.apache.spark.unsafe.types.UTF8String].numBytes()
    case BinaryType => get(dt).asInstanceOf[Array[Byte]].length
    case ArrayType(et, _) =>
      val a = get(dt).asInstanceOf[ArrayData]
      (0 until a.numElements()).map(i =>
        if (a.isNullAt(i)) 0L else valueBytes(et, t => a.get(i, t))).sum
    case st: StructType => rowBytes(get(dt).asInstanceOf[InternalRow], st.fields.map(_.dataType))
    case MapType(kt, vt, _) =>
      val m = get(dt).asInstanceOf[MapData]
      valueBytes(ArrayType(kt), _ => m.keyArray()) + valueBytes(ArrayType(vt), _ => m.valueArray())
    case _ => 8L
  }

  /** Fingerprint of rows that arrive as raw field bytes, as a PG wire
    * client receives them (None = SQL NULL). */
  def hashWireRow(fields: Seq[Option[Array[Byte]]]): Long = {
    var h = 0x776972L
    fields.foreach(f => h = combine(h, f.fold(Null)(hashBytes)))
    mix(h)
  }
}
