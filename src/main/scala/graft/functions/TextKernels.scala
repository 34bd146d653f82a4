package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.array.ByteArrayMethods
import org.apache.spark.unsafe.hash.Murmur3_x86_32
import org.apache.spark.unsafe.types.UTF8String

/**
 * Set Jaccard of two `array<bigint>` columns by one sorted merge:
 * `graft_sorted_jaccard(a, b)` equals
 * `size(array_intersect(a, b)) / size(array_union(a, b))` for ANY input.
 *
 * The merge checks strict ascending order as it walks. Sorted distinct
 * arrays without NULLs (the MinHash shingle frames) take that path with no
 * allocation; anything else (unsorted, duplicates, NULL elements) sorts a
 * distinct copy first. A NULL element counts as one set member, as in
 * `array_intersect`/`array_union`: in the intersection iff both sides hold
 * one, in the union iff either does. The union is `|a| + |b| − inter`, so
 * the double is the one the two-function form divides. NULL arrays, and
 * two empty sets (a zero union), give NULL.
 */
case class SortedJaccard(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(LongType, _), ArrayType(LongType, _)) => TypeCheckResult.TypeCheckSuccess
    case _ =>
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects two array<bigint>, got " +
          s"${left.dataType.catalogString} and ${right.dataType.catalogString}")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val j = JaccardKernel.jaccard(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    if (java.lang.Double.isNaN(j)) null else j
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"""
        ${ev.value} = ${JaccardKernel.getClass.getName.stripSuffix("$")}.jaccard($a, $b);
        ${ev.isNull} = java.lang.Double.isNaN(${ev.value});
      """)

  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression): SortedJaccard =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = GraftFunctions.SortedJaccardName
}

object JaccardKernel {

  /** inter / union of the two element sets; NaN when the union is empty. */
  def jaccard(a: ArrayData, b: ArrayData): Double = {
    val na = a.numElements(); val nb = b.numElements()
    var i = 0; var j = 0; var inter = 0
    var sorted = true
    while (sorted && i < na && j < nb) {
      if (a.isNullAt(i) || b.isNullAt(j) ||
          (i > 0 && a.getLong(i) <= a.getLong(i - 1)) ||
          (j > 0 && b.getLong(j) <= b.getLong(j - 1))) sorted = false
      else {
        val x = a.getLong(i); val y = b.getLong(j)
        if (x == y) { inter += 1; i += 1; j += 1 }
        else if (x < y) i += 1
        else j += 1
      }
    }
    if (sorted && ascendingFrom(a, i) && ascendingFrom(b, j))
      ratio(inter, na.toLong + nb - inter)
    else slowJaccard(a, b)
  }

  /** Elements from index `from` on are non-NULL and strictly ascending
    * (also against the element before `from`). */
  private def ascendingFrom(arr: ArrayData, from: Int): Boolean = {
    val n = arr.numElements()
    var k = from
    while (k < n) {
      if (arr.isNullAt(k) || (k > 0 && arr.getLong(k) <= arr.getLong(k - 1))) return false
      k += 1
    }
    true
  }

  private def ratio(inter: Long, union: Long): Double =
    if (union == 0) Double.NaN else inter.toDouble / union.toDouble

  /** Sorted distinct non-NULL values, their count, and whether a NULL was seen. */
  private def distinctSorted(arr: ArrayData): (Array[Long], Int, Boolean) = {
    val n = arr.numElements()
    val vs = new Array[Long](n)
    var m = 0; var hasNull = false; var k = 0
    while (k < n) {
      if (arr.isNullAt(k)) hasNull = true else { vs(m) = arr.getLong(k); m += 1 }
      k += 1
    }
    java.util.Arrays.sort(vs, 0, m)
    var d = 0; k = 0
    while (k < m) {
      if (d == 0 || vs(k) != vs(d - 1)) { vs(d) = vs(k); d += 1 }
      k += 1
    }
    (vs, d, hasNull)
  }

  private def slowJaccard(a: ArrayData, b: ArrayData): Double = {
    val (va, da, nullA) = distinctSorted(a)
    val (vb, db, nullB) = distinctSorted(b)
    var i = 0; var j = 0; var inter = 0L
    while (i < da && j < db) {
      if (va(i) == vb(j)) { inter += 1; i += 1; j += 1 }
      else if (va(i) < vb(j)) i += 1
      else j += 1
    }
    val nulls = if (nullA && nullB) 1L else 0L
    val sizeA = da + (if (nullA) 1L else 0L)
    val sizeB = db + (if (nullB) 1L else 0L)
    ratio(inter + nulls, sizeA + sizeB - inter - nulls)
  }
}

/**
 * Per-document word statistics in one pass over the UTF-8 bytes:
 * `graft_word_stats(text)` is `struct(n_words, sum_len, max_mult)` over
 * the whitespace tokens of `TextOps.tokens` (maximal runs outside Java's
 * `\s` = `[ \t\n\x0B\f\r]`, case-sensitive): the token count, the sum of
 * token lengths in code points (Spark `length`), and the count of the
 * most frequent token. NULL text, or text without a token, gives NULL —
 * the document has no row under the `explode` + `groupBy` form either.
 */
case class WordStats(child: Expression)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects a string, got ${t.catalogString}")
  }
  override def dataType: DataType = WordStats.Type
  override def nullable: Boolean = true

  @transient private lazy val kernel = new WordStatsKernel

  override def nullSafeEval(text: Any): Any = kernel(text.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cls = classOf[WordStatsKernel].getName
    val k = ctx.addMutableState(cls, "wordStats", v => s"$v = new $cls();")
    nullSafeCodeGen(ctx, ev, t =>
      s"""
        ${ev.value} = $k.apply($t);
        ${ev.isNull} = ${ev.value} == null;
      """)
  }

  override protected def withNewChildInternal(newChild: Expression): WordStats =
    copy(child = newChild)

  override def prettyName: String = GraftFunctions.WordStatsName
}

object WordStats {
  val Type: StructType = StructType(Seq(
    StructField("n_words", LongType, nullable = false),
    StructField("sum_len", LongType, nullable = false),
    StructField("max_mult", LongType, nullable = false)))
}

/** [[WordStats]]' scratch state — token offsets and an open-addressing
  * table of token multiplicities — reused across the rows of a task. */
final class WordStatsKernel {
  private var starts = new Array[Int](64)
  private var lens = new Array[Int](64)
  private var slots = new Array[Int](128) // token index + 1; 0 = free
  private var counts = new Array[Int](128)

  @inline private def isSpace(b: Byte): Boolean =
    b == ' ' || (b >= '\t' && b <= '\r') // \t \n \x0B \f \r

  def apply(s: UTF8String): InternalRow = {
    val base = s.getBaseObject; val off = s.getBaseOffset; val n = s.numBytes()
    var nTok = 0; var sumLen = 0L; var i = 0
    while (i < n) {
      while (i < n && isSpace(Platform.getByte(base, off + i))) i += 1
      if (i < n) {
        val st = i
        while (i < n && !isSpace(Platform.getByte(base, off + i))) {
          // a code point starts at every byte that is not a continuation byte
          if ((Platform.getByte(base, off + i) & 0xC0) != 0x80) sumLen += 1
          i += 1
        }
        if (nTok == starts.length) {
          starts = java.util.Arrays.copyOf(starts, nTok * 2)
          lens = java.util.Arrays.copyOf(lens, nTok * 2)
        }
        starts(nTok) = st; lens(nTok) = i - st; nTok += 1
      }
    }
    if (nTok == 0) return null
    var cap = slots.length
    while (cap < 2 * nTok) cap *= 2
    if (cap != slots.length) { slots = new Array[Int](cap); counts = new Array[Int](cap) }
    else java.util.Arrays.fill(slots, 0)
    val mask = cap - 1
    var maxMult = 0; var t = 0
    while (t < nTok) {
      val st = off + starts(t); val len = lens(t)
      var p = Murmur3_x86_32.hashUnsafeBytes(base, st, len, 42) & mask
      var placed = false
      while (!placed) {
        val o = slots(p) - 1
        if (o < 0) {
          slots(p) = t + 1; counts(p) = 1; placed = true
        } else if (lens(o) == len &&
            ByteArrayMethods.arrayEquals(base, off + starts(o), base, st, len)) {
          counts(p) += 1; placed = true
        } else p = (p + 1) & mask
        if (placed && counts(p) > maxMult) maxMult = counts(p)
      }
      t += 1
    }
    new GenericInternalRow(Array[Any](nTok.toLong, sumLen, maxMult.toLong))
  }
}
