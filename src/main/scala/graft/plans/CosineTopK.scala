package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeSet, GenericInternalRow, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.types._

/**
 * Whole-operator top-k cosine scoring — SURVEY §2.10 escalation path (c):
 * a custom logical node + [[GraftStrategy]] + [[CosineTopKExec]] physical
 * operator, the step past the codegen'd
 * [[graft.functions.CosineSimilarity]] expression.
 *
 * The declarative form ([[graft.ext.Similarity.bruteForceTopK]]) plans
 *   scan → score every (vector, probe) → Exchange on probe → Window
 *   row_number → filter rn <= k
 * which shuffles |vectors| × |probes| scored triples. This operator fuses
 * score + select into ONE pass: each partition keeps a bounded
 * (score desc, id asc) buffer of size k per probe, then the
 * partitions × probes × k survivors — kilobytes, independent of table
 * size — merge in a single narrow task. No exchange, no window, nothing
 * row-count-shaped ever moves.
 *
 * Binary node: `left` is the vectors relation projected to (id LONG,
 * vec ARRAY<float|double>), `right` the probes projected to (probe_id
 * LONG, probe_vec ARRAY<float|double>). The probe side is collected at
 * execution — the same driver materialization a broadcast build side
 * pays — so the node composes with any probe sub-plan. Only the
 * [[FuseCosineTopK]] optimizer rule builds it, in every graft session.
 *
 * Output equals the declarative plan's for every input: sequential-sum
 * double cosine (the [[graft.functions.CosineSimilarity]] arithmetic),
 * Spark's round(x + 1e-9, 6) (NaN passes through), one top-k per
 * DISTINCT probe id (a NULL probe id is one partition, as in the
 * Window), order (score desc with NaN first, id asc with NULL first).
 * A NULL id is a candidate like any other. A pair whose score is NULL (a
 * NULL or zero-norm vector on either side) ranks after every scored
 * pair, in id order, so a probe with fewer than k scored candidates
 * still returns min(k, candidates) rows, the rest with a NULL score.
 * `excludeSelf` drops every pair with `id = probe_id` or a NULL on
 * either side — the join condition `NOT (id = probe_id)` of the kNN
 * graph.
 */
case class CosineTopK(k: Int, excludeSelf: Boolean, output: Seq[Attribute],
                      left: LogicalPlan, right: LogicalPlan) extends BinaryNode {
  // the output attributes are adopted from the matched pattern by
  // FuseCosineTopK, not computed from child columns — declare them
  // produced or the analyzer flags them missing
  override def producedAttributes: AttributeSet = AttributeSet(output)
  // no expression here references the children's columns, so without this
  // the optimizer's ColumnPruning inserts an empty Project below (e.g.
  // under a count(*)) and execution loses the columns it reads positionally
  override def references: AttributeSet = left.outputSet ++ right.outputSet
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): CosineTopK =
    copy(left = newLeft, right = newRight)
}

/** Bounded top-k buffer over (score desc, id asc) in Spark's order for
  * `score DESC NULLS LAST, id ASC NULLS FIRST` over non-NULL scores: NaN
  * sorts above every number and equals NaN, a NULL id before every id.
  * Sorted insertion into flat arrays — k is small, so binary search +
  * memmove beats a heap's constant factor and emits already in output
  * order. Offering one score to every entry makes it an id-order
  * buffer (the NULL-score tail). */
private[graft] final class TopKBuffer(k: Int) {
  private val scores = new Array[Double](k)
  private val ids = new Array[Long](k)
  private val nullIds = new Array[Boolean](k)
  private var n = 0

  @inline private def better(s1: Double, z1: Boolean, i1: Long,
                             s2: Double, z2: Boolean, i2: Long): Boolean =
    if (s1 > s2) true
    else if (s1 < s2) false
    else if (s1 == s2 || (s1.isNaN && s2.isNaN)) (if (z1) !z2 else !z2 && i1 < i2)
    else s1.isNaN

  def size: Int = n

  def offer(score: Double, idIsNull: Boolean, id: Long): Unit = {
    if (n == k && !better(score, idIsNull, id, scores(n - 1), nullIds(n - 1), ids(n - 1)))
      return
    var lo = 0; var hi = n
    while (lo < hi) {
      val m = (lo + hi) >>> 1
      if (better(score, idIsNull, id, scores(m), nullIds(m), ids(m))) hi = m else lo = m + 1
    }
    val last = if (n < k) n else k - 1
    var i = last
    while (i > lo) {
      scores(i) = scores(i - 1); ids(i) = ids(i - 1); nullIds(i) = nullIds(i - 1)
      i -= 1
    }
    scores(lo) = score; ids(lo) = id; nullIds(lo) = idIsNull
    if (n < k) n += 1
  }

  /** Entries in order as (score, id is NULL, id). */
  def foreach(f: (Double, Boolean, Long) => Unit): Unit = {
    var i = 0
    while (i < n) { f(scores(i), nullIds(i), ids(i)); i += 1 }
  }
}

object CosineTopKExec {
  /** Sum of squares of the first `n` elements: the add sequence of the
    * `na`/`nb` accumulators in [[graft.functions.CosineSimilarity]], so
    * hoisting it out of the per-pair loop is bit-identical IEEE
    * arithmetic, not an approximation. */
  @inline def sumSq(a: Array[Double], n: Int): Double = {
    var s = 0.0; var i = 0
    while (i < n) { val x = a(i); s += x * x; i += 1 }
    s
  }

  /** Dot product of the first `n` elements — the only per-(row, probe)
    * work left once both norms are precomputed. */
  @inline def dotN(a: Array[Double], b: Array[Double], n: Int): Double = {
    var s = 0.0; var i = 0
    while (i < n) { s += a(i) * b(i); i += 1 }
    s
  }

  /** Spark-identical round(x + 1e-9, 6): shortest-decimal HALF_UP; NaN
    * and infinities pass through as Spark's `Round` passes them. */
  def round6(x: Double): Double = {
    val y = x + 1e-9
    if (y.isNaN || y.isInfinite) y
    else java.math.BigDecimal.valueOf(y)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
  }

  /** Copy row's array column 1 (FLOAT or DOUBLE elements) into a caller-
    * owned scratch buffer (grown on demand) and return it with the
    * element count; NULL elements contribute 0.0, matching
    * CosineSimilarity. The hot path makes zero allocations per row. */
  private[plans] def vecInto(row: InternalRow, elemIsFloat: Boolean,
                             scratch: Array[Double]): (Array[Double], Int) = {
    val ad = row.getArray(1)
    val n = ad.numElements()
    val v = if (n <= scratch.length) scratch else new Array[Double](n)
    var i = 0
    while (i < n) {
      v(i) = if (ad.isNullAt(i)) 0.0
             else if (elemIsFloat) ad.getFloat(i).toDouble
             else ad.getDouble(i)
      i += 1
    }
    (v, n)
  }

  private def isFloat(plan: SparkPlan): Boolean =
    plan.output(1).dataType.asInstanceOf[ArrayType].elementType == FloatType
}

/**
 * Physical fused cosine top-k. On columnar input (evaluated, declined):
 * the vector child is a projection over the scan, and ProjectExec is
 * row-based, so `executeColumnar` is never offered here — consuming
 * parquet batches directly would mean folding the projection into this
 * operator and re-implementing it against ColumnarBatch. The kernel is
 * already dot-only with precomputed norms, a reused scratch buffer, and
 * zero per-row allocation; the remaining row-iterator overhead is the
 * UnsafeRow array-header decode, a small fraction of the measured
 * 0.26 s at sf0.1 — not worth a second input path that would fork the
 * operator's correctness surface.
 */
case class CosineTopKExec(k: Int, excludeSelf: Boolean, output: Seq[Attribute],
                          left: SparkPlan, right: SparkPlan) extends BinaryExecNode {
  import CosineTopKExec._

  override def producedAttributes: AttributeSet = AttributeSet(output)

  override protected def doExecute(): RDD[InternalRow] = {
    val leftIsFloat = isFloat(left)
    val rightIsFloat = isFloat(right)
    // the probe side is driver-collected exactly like a broadcast build
    // side — small by contract (it parameterizes the scoring pass). A
    // NULL probe id pairs with nothing under excludeSelf.
    val probes = right.executeCollect().filter(r => !(excludeSelf && r.isNullAt(0)))
    val nProbes = probes.length
    // one top-k per distinct probe id, NULL included: the Window's
    // partitions, so duplicate probe ids rank together
    def keyOf(r: InternalRow): Option[Long] =
      if (r.isNullAt(0)) None else Some(r.getLong(0))
    val keys = probes.map(keyOf).distinct
    val slotOf = keys.zipWithIndex.toMap
    val pSlot = probes.map(r => slotOf(keyOf(r)))
    val pIds = probes.map(r => keyOf(r).getOrElse(0L))
    // a NULL probe vector scores every pair NULL
    val pVecs = probes.map { r =>
      if (r.isNullAt(1)) null
      else vecInto(r, rightIsFloat, new Array[Double](0))._1
    }
    val pNorms = pVecs.map(v => if (v == null) 0.0 else sumSq(v, v.length))
    val nSlots = keys.length
    val kk = k
    val exclude = excludeSelf
    // pass 1 (map-side, the only pass over the data): per probe id a
    // bounded buffer of scored pairs and one of NULL-score pairs. The
    // per-(row, probe) loop is dot-only: probe norms are computed ONCE
    // here, the row norm once per row, and rows are read into a reused
    // scratch buffer — same accumulator sequences as CosineSimilarity,
    // so bit-identical results with ~1/3 the flops and zero per-row
    // allocation.
    val partials: RDD[(Int, Boolean, Double, Boolean, Long)] =
      left.execute().mapPartitions { iter =>
        val top = Array.fill(nSlots)(new TopKBuffer(kk))
        val tail = Array.fill(nSlots)(new TopKBuffer(kk))
        var scratch = new Array[Double](64)
        iter.foreach { row =>
          val idNull = row.isNullAt(0)
          if (!(exclude && idNull)) {
            val id = if (idNull) 0L else row.getLong(0)
            val vecNull = row.isNullAt(1)
            var v = scratch; var vLen = 0; var naFull = 0.0
            if (!vecNull) {
              val (buf, len) = vecInto(row, leftIsFloat, scratch)
              if (buf.length > scratch.length) scratch = buf
              v = buf; vLen = len; naFull = sumSq(v, vLen)
            }
            var p = 0
            while (p < nProbes) {
              if (!(exclude && id == pIds(p))) {
                val pv = pVecs(p)
                var denom = 0.0
                var n = 0
                if (!vecNull && pv != null) {
                  n = math.min(vLen, pv.length)
                  // norms cover exactly the first n elements the
                  // expression sums; the precomputed full-length values
                  // apply whenever the pairing doesn't truncate that
                  // side (always, for the usual equal-dim corpus)
                  val na = if (n == vLen) naFull else sumSq(v, n)
                  val nb = if (n == pv.length) pNorms(p) else sumSq(pv, n)
                  denom = math.sqrt(na) * math.sqrt(nb)
                }
                if (denom != 0.0) top(pSlot(p)).offer(round6(dotN(v, pv, n) / denom), idNull, id)
                else tail(pSlot(p)).offer(0.0, idNull, id)
              }
              p += 1
            }
          }
        }
        val out = Array.newBuilder[(Int, Boolean, Double, Boolean, Long)]
        var s = 0
        while (s < nSlots) {
          val ss = s
          top(ss).foreach((sc, z, id) => out += ((ss, false, sc, z, id)))
          tail(ss).foreach((_, z, id) => out += ((ss, true, 0.0, z, id)))
          s += 1
        }
        out.result().iterator
      }
    // pass 2: merge partitions × probes × k survivors in one task.
    // shuffle = true is load-bearing: a NARROW coalesce(1) fuses the
    // scoring pass into the single merge task (CoalescedRDD computes its
    // parents sequentially in one task), silently serializing the whole
    // O(|vectors|×|probes|) kernel on one core no matter how many input
    // splits the scan yields (measured r14: the entire fused-kNN family
    // ran 1-task). The shuffle boundary moves only the bounded partials
    // — partitions × probes × k tuples, kilobytes — and restores
    // map-side parallelism; merge content is order-invariant (a total
    // order on (score, id)), so the output is bit-identical.
    partials.coalesce(1, shuffle = true).mapPartitions { iter =>
      val top = Array.fill(nSlots)(new TopKBuffer(kk))
      val tail = Array.fill(nSlots)(new TopKBuffer(kk))
      iter.foreach { case (s, isTail, sc, z, id) =>
        (if (isTail) tail(s) else top(s)).offer(sc, z, id)
      }
      val proj = UnsafeProjection.create(Array[DataType](LongType, LongType, DoubleType))
      val row = new GenericInternalRow(3)
      val res = Array.newBuilder[InternalRow]
      def emit(s: Int, z: Boolean, id: Long, score: Option[Double]): Unit = {
        keys(s) match {
          case Some(pid) => row.update(0, pid)
          case None => row.setNullAt(0)
        }
        if (z) row.setNullAt(1) else row.update(1, id)
        score match {
          case Some(sc) => row.update(2, sc)
          case None => row.setNullAt(2)
        }
        res += proj(row).copy()
      }
      var s = 0
      while (s < nSlots) {
        val ss = s
        // the NULL-score pairs fill what the scored ones leave of k
        var room = kk - top(ss).size
        top(ss).foreach((sc, z, id) => emit(ss, z, id, Some(sc)))
        tail(ss).foreach { (_, z, id) =>
          if (room > 0) { emit(ss, z, id, None); room -= 1 }
        }
        s += 1
      }
      res.result().iterator
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): CosineTopKExec =
    copy(left = newLeft, right = newRight)
}

/** Planner strategy mapping the logical node to the physical operator. */
object GraftStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case n: CosineTopK =>
      CosineTopKExec(n.k, n.excludeSelf, n.output,
        planLater(n.left), planLater(n.right)) :: Nil
    case _ => Nil
  }
}

/**
 * The Catalyst additions every graft session runs: the [[FuseCosineTopK]]
 * optimizer rule and the [[GraftStrategy]] that plans its node.
 * `graft.core.GraftSession.configure` installs them through the session's
 * experimental hooks; `spark.sql.extensions=graft.functions.GraftExtensions`
 * injects the same lists at session build time. The reference plan is one
 * setting away: `spark.sql.optimizer.excludedRules=graft.plans.FuseCosineTopK`.
 */
object GraftPlanner {
  val strategies: Seq[SparkStrategy] = Seq(GraftStrategy)
  val optimizerRules: Seq[Rule[LogicalPlan]] = Seq(FuseCosineTopK)

  /** Idempotent: installing twice into one session adds nothing. */
  def install(spark: SparkSession): Unit = synchronized {
    val exp = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].experimental
    exp.extraStrategies ++= strategies.filterNot(exp.extraStrategies.contains)
    exp.extraOptimizations ++= optimizerRules.filterNot(exp.extraOptimizations.contains)
  }
}
