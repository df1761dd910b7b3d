package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, MapData}
import org.apache.spark.sql.types._

/** Order-insensitive checksum of a result: the xor, the wrapping sum and
  * the count of per-row hashes. Xor and sum are commutative, so the fold
  * does not depend on row order or on how rows are split into
  * partitions; the sum and the count catch a duplicated pair of rows,
  * whose hashes cancel under xor. */
final case class Fold(xor: Long, sum: Long, count: Long) {
  def add(h: Long): Fold = Fold(xor ^ h, sum + h, count + 1)
  def merge(o: Fold): Fold = Fold(xor ^ o.xor, sum + o.sum, count + o.count)
  def show: String = f"rows=$count xor=$xor%016x sum=$sum%016x"
}

object Fold {
  val Zero: Fold = Fold(0L, 0L, 0L)
}

object Checksum {

  /** Runs the DataFrame's own physical plan and folds the row hashes
    * inside the job's final stage: no extra stage, and unlike `count()`
    * Catalyst cannot prune any column or subtree away. The plan must
    * already be built (`queryExecution.executedPlan`), so the call is
    * execution only. */
  def of(df: DataFrame): Fold = {
    val schema = df.schema
    df.queryExecution.toRdd
      .mapPartitions(rows => Iterator(foldRows(rows, schema)))
      .fold(Fold.Zero)(_ merge _)
  }

  def foldRows(rows: Iterator[InternalRow], schema: StructType): Fold =
    rows.foldLeft(Fold.Zero)((f, r) => f.add(rowHash(r, schema)))

  def rowHash(row: InternalRow, schema: StructType): Long = {
    var h = 0x2545f4914f6cdd1dL
    var i = 0
    while (i < schema.length) {
      h = mix(h * 31 + valueHash(row, i, schema(i).dataType))
      i += 1
    }
    h
  }

  private val NullHash = 0x6a09e667f3bcc908L

  private def valueHash(row: InternalRow, i: Int, t: DataType): Long =
    if (row.isNullAt(i)) NullHash
    else t match {
      case BooleanType => if (row.getBoolean(i)) 1L else 2L
      case ByteType => row.getByte(i).toLong
      case ShortType => row.getShort(i).toLong
      case IntegerType | DateType | _: YearMonthIntervalType =>
        row.getInt(i).toLong
      case LongType | TimestampType | TimestampNTZType |
          _: DayTimeIntervalType => row.getLong(i)
      case FloatType => doubleHash(row.getFloat(i).toDouble)
      case DoubleType => doubleHash(row.getDouble(i))
      case d: DecimalType =>
        bytesHash(row.getDecimal(i, d.precision, d.scale)
          .toJavaBigDecimal.stripTrailingZeros.toPlainString
          .getBytes("UTF-8"))
      case _: StringType => bytesHash(row.getUTF8String(i).getBytes)
      case BinaryType => bytesHash(row.getBinary(i))
      case s: StructType => rowHash(row.getStruct(i, s.length), s)
      case a: ArrayType => arrayHash(row.getArray(i), a.elementType)
      case m: MapType => mapHash(row.getMap(i), m)
      case other => bytesHash(String.valueOf(row.get(i, other))
        .getBytes("UTF-8"))
    }

  private def arrayHash(a: ArrayData, et: DataType): Long = {
    // each element is read through a one-column row view
    var h = a.numElements().toLong
    var i = 0
    while (i < a.numElements()) {
      val one = InternalRow.fromSeq(Seq(
        if (a.isNullAt(i)) null else a.get(i, et)))
      h = mix(h * 31 + valueHash(one, 0, et))
      i += 1
    }
    h
  }

  /** Map entries in any order hash alike (summed entry hashes). */
  private def mapHash(m: MapData, t: MapType): Long = {
    val schema = StructType(Seq(StructField("k", t.keyType),
      StructField("v", t.valueType)))
    var h = m.numElements().toLong
    var i = 0
    while (i < m.numElements()) {
      val kv = InternalRow.fromSeq(Seq(m.keyArray().get(i, t.keyType),
        if (m.valueArray().isNullAt(i)) null
        else m.valueArray().get(i, t.valueType)))
      h += mix(rowHash(kv, schema))
      i += 1
    }
    h
  }

  /** -0.0 and 0.0 hash alike, as do all NaN bit patterns. */
  private def doubleHash(d: Double): Long =
    if (d == 0.0) 0L
    else java.lang.Double.doubleToLongBits(d)

  def bytesHash(b: Array[Byte]): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < b.length) { h = (h ^ (b(i) & 0xff)) * 0x100000001b3L; i += 1 }
    mix(h ^ b.length)
  }

  /** SplitMix64 finaliser. */
  def mix(x: Long): Long = {
    var z = x + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }
}
