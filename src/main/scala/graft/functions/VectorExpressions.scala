package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/**
 * Native Catalyst expression for cosine similarity over numeric-array
 * columns — the escalation path (b) of SURVEY §2.10: the higher-order
 * `zip_with`/`aggregate` form is interpreted (no codegen) and walks the
 * arrays three times (dot, |a|, |b|); this expression is one codegen'd
 * loop with three accumulators.
 *
 * Semantics are bit-identical to
 * `dot(a,b) / (sqrt(dot(a,a)) * sqrt(dot(b,b)))` with sequential
 * left-to-right summation in double precision, NULL on zero/NULL norms —
 * so results hash-match the portable form and the DuckDB oracle.
 * NULL array elements contribute 0.0.
 */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(l: NumericType, _), ArrayType(r: NumericType, _)) =>
      TypeCheckResult.TypeCheckSuccess
    case _ =>
      TypeCheckResult.TypeCheckFailure(
        s"cosine_similarity expects two numeric arrays, got " +
          s"${left.dataType.catalogString} and ${right.dataType.catalogString}")
  }

  @inline private def elemAt(arr: ArrayData, i: Int, et: DataType): Double = et match {
    case DoubleType => arr.getDouble(i)
    case FloatType  => arr.getFloat(i).toDouble
    case IntegerType => arr.getInt(i).toDouble
    case LongType   => arr.getLong(i).toDouble
    case _ => throw new IllegalStateException(s"unsupported element type $et")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val (la, ra) = (a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    val lt = left.dataType.asInstanceOf[ArrayType].elementType
    val rt = right.dataType.asInstanceOf[ArrayType].elementType
    val n = math.min(la.numElements(), ra.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = if (la.isNullAt(i)) 0.0 else elemAt(la, i, lt)
      val y = if (ra.isNullAt(i)) 0.0 else elemAt(ra, i, rt)
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    val denom = math.sqrt(na) * math.sqrt(nb)
    if (denom == 0.0) null else dot / denom
  }

  private def accessor(et: DataType, arr: String, i: String): String = et match {
    case DoubleType  => s"$arr.getDouble($i)"
    case FloatType   => s"(double) $arr.getFloat($i)"
    case IntegerType => s"(double) $arr.getInt($i)"
    case LongType    => s"(double) $arr.getLong($i)"
    case _ => throw new IllegalStateException(s"unsupported element type $et")
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val lt = left.dataType.asInstanceOf[ArrayType].elementType
    val rt = right.dataType.asInstanceOf[ArrayType].elementType
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n"); val i = ctx.freshName("i")
      val dot = ctx.freshName("dot"); val na = ctx.freshName("na")
      val nb = ctx.freshName("nb"); val x = ctx.freshName("x")
      val y = ctx.freshName("y"); val denom = ctx.freshName("denom")
      s"""
        int $n = java.lang.Math.min($a.numElements(), $b.numElements());
        double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
        for (int $i = 0; $i < $n; $i++) {
          double $x = $a.isNullAt($i) ? 0.0 : ${accessor(lt, a, i)};
          double $y = $b.isNullAt($i) ? 0.0 : ${accessor(rt, b, i)};
          $dot += $x * $y; $na += $x * $x; $nb += $y * $y;
        }
        double $denom = java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb);
        if ($denom == 0.0) { ${ev.isNull} = true; } else { ${ev.value} = $dot / $denom; }
      """
    })
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression): CosineSimilarity =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "graft_cosine"
}

/** Function registration — both the programmatic route and the
  * `spark.sql.extensions` route land on the same builders. */
object GraftFunctions {
  val CosineName = "graft_cosine"
  val SortedJaccardName = "graft_sorted_jaccard"
  val WordStatsName = "graft_word_stats"

  /** (name, info, builder) of every graft function. */
  private[functions] val all: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] =
    Seq[(String, Class[_], Seq[Expression] => Expression)](
      (CosineName, classOf[CosineSimilarity], e => CosineSimilarity(e.head, e(1))),
      (SortedJaccardName, classOf[SortedJaccard], e => SortedJaccard(e.head, e(1))),
      (WordStatsName, classOf[WordStats], e => WordStats(e.head))
    ).map { case (name, cls, build) =>
      (FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), build)
    }

  /** Idempotently register graft functions in an existing session. */
  def register(spark: SparkSession): Unit =
    all.foreach { case (id, info, build) =>
      spark.sessionState.functionRegistry.registerFunction(id, info, build)
    }
}

/** `spark.sql.extensions=graft.functions.GraftExtensions` injects the
  * full graft Catalyst set at session build time (SURVEY §2.10 path c):
  * the codegen'd functions, the fused top-k planner strategy, AND the
  * [[graft.plans.FuseCosineTopK]] optimizer rule that rewrites the
  * declarative rank-filtered cosine pattern into the fused operator —
  * the config-only superset of `GraftFunctions.register` +
  * `GraftStrategy.install`. */
class GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(ext: org.apache.spark.sql.SparkSessionExtensions): Unit = {
    GraftFunctions.all.foreach(ext.injectFunction)
    ext.injectPlannerStrategy(_ => graft.plans.GraftStrategy)
    ext.injectOptimizerRule(_ => graft.plans.FuseCosineTopK)
  }
}
