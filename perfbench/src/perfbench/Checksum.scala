package perfbench

import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, MapData}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.types._

/**
 * The benchmark's timed action: runs the DataFrame's already-planned
 * physical plan once, as a SQL execution like any Dataset action, and
 * folds every column of every row into (row count, checksum).
 *
 * Each row is rendered canonically (top-level columns in name order,
 * doubles rounded to 6 digits as the DuckDB oracle compare rounds them,
 * map entries sorted) and hashed to 64 bits; the checksum is the
 * wrapping sum of the row hashes, so it ignores row order and
 * partitioning.
 */
object Checksum {
  def of(df: DataFrame): (Long, Long) = {
    val qe = df.queryExecution
    val fields = df.schema.fields
    val order = fields.indices.sortBy(i => fields(i).name).toArray
    val types = fields.map(_.dataType)
    SQLExecution.withNewExecutionId(qe, Some("perfbench checksum")) {
      qe.toRdd.mapPartitions(it => Iterator(partition(it, order, types))).collect()
    }.foldLeft((0L, 0L)) { case ((n, s), (n2, s2)) => (n + n2, s + s2) }
  }

  private def partition(it: Iterator[InternalRow], order: Array[Int],
      types: Array[DataType]): (Long, Long) = {
    val sb = new java.lang.StringBuilder
    var n = 0L
    var sum = 0L
    while (it.hasNext) {
      val row = it.next()
      sb.setLength(0)
      var i = 0
      while (i < order.length) {
        val c = order(i)
        value(if (row.isNullAt(c)) null else row.get(c, types(c)), types(c), sb)
        sb.append('\u0001')
        i += 1
      }
      val s = sb.toString
      sum += (MurmurHash3.stringHash(s, 0x5eed).toLong << 32) ^
        (MurmurHash3.stringHash(s, 0xbeef) & 0xffffffffL)
      n += 1
    }
    (n, sum)
  }

  private def value(v: Any, t: DataType, sb: java.lang.StringBuilder): Unit =
    if (v == null) sb.append("NULL") else t match {
      case DoubleType => double(v.asInstanceOf[Double], sb)
      case FloatType => double(v.asInstanceOf[Float].toDouble, sb)
      case _: DecimalType => double(v.asInstanceOf[Decimal].toDouble, sb)
      case BinaryType => v.asInstanceOf[Array[Byte]].foreach(b => sb.append(f"$b%02x"))
      case ArrayType(et, _) =>
        val a = v.asInstanceOf[ArrayData]
        sb.append('[')
        (0 until a.numElements()).foreach { i =>
          value(if (a.isNullAt(i)) null else a.get(i, et), et, sb); sb.append(',')
        }
        sb.append(']')
      case MapType(kt, vt, _) =>
        val m = v.asInstanceOf[MapData]
        val entries = (0 until m.numElements()).map { i =>
          val e = new java.lang.StringBuilder
          value(m.keyArray().get(i, kt), kt, e); e.append('=')
          value(if (m.valueArray().isNullAt(i)) null else m.valueArray().get(i, vt), vt, e)
          e.toString
        }.sorted
        sb.append('{').append(entries.mkString(",")).append('}')
      case st: StructType =>
        val r = v.asInstanceOf[InternalRow]
        sb.append('(')
        st.fields.indices.sortBy(i => st.fields(i).name).foreach { i =>
          val ft = st.fields(i).dataType
          value(if (r.isNullAt(i)) null else r.get(i, ft), ft, sb); sb.append(',')
        }
        sb.append(')')
      // integers, dates/timestamps (as their internal day/microsecond
      // counts), booleans and UTF8String strings
      case _ => sb.append(v.toString)
    }

  private def double(d: Double, sb: java.lang.StringBuilder): Unit =
    if (d.isNaN || d.isInfinite) sb.append(d)
    else if (math.abs(d) < 1e12) sb.append(math.rint(d * 1e6).toLong)
    else sb.append(java.math.BigDecimal.valueOf(d)
      .setScale(6, java.math.RoundingMode.HALF_EVEN).toPlainString)
}
