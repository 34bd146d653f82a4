package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.{Cross, Inner}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType, IntegerType, LongType}

import graft.functions.CosineSimilarity

/**
 * Optimizer rule that recognizes the DECLARATIVE cosine top-k pattern —
 * what a user writes with plain DataFrame code (score every pair against
 * a broadcast probe side, rank per probe, keep k):
 *
 *   Project [probe, id, score]
 *   +- Filter (rn <= k [AND p(probe, id, score) ...])
 *      +- Window [row_number() over (partition by probe
 *                                    order by score desc, id asc) as rn]
 *         +- [WindowGroupLimit]                        (inserted by Spark)
 *            +- Project [probe, id [AS alias],
 *                        round(graft_cosine(vec, pvec) + 1e-9, 6) as score]
 *               +- Join Cross|Inner [NOT (id = probe)]
 *                  :- vectors                           (outputs id, vec)
 *                  +- probes                            (outputs probe, pvec)
 *
 * and rewrites it to the fused [[CosineTopK]] operator: one bounded-buffer
 * pass over the vectors, no Exchange, no Window — the user keeps the
 * declarative form, the engine plans the operator a 100 TB scan needs.
 * This is the whole-plan twin of Spark's own InferWindowGroupLimit: that
 * rule bounds the sort, this one deletes the scored-pair shuffle entirely.
 *
 * The two shapes Catalyst makes of graft's own callers are matched:
 *  - a filter above the ranking (e.g. `score IS NOT NULL`) that
 *    `CombineFilters` merged into `rn <= k`: every other conjunct must be
 *    deterministic and read only the three fused outputs, and stays as a
 *    Filter above the fused node;
 *  - the kNN graph's self-exclusion, a join condition `NOT (id = probe)`
 *    in either operand order, under a projection that renames the id
 *    (`vec_id AS dst_id`): the operator drops those pairs itself.
 * Everything else is an exact match on the semantics the operator
 * reproduces: row_number (not rank — exactly k), (score desc nulls last,
 * id asc nulls first) order, the round(+1e-9, 6) score, LONG ids, FLOAT
 * or DOUBLE vector elements. Other shapes are left for Catalyst to plan
 * normally. The operator's output equals the plan it replaces for every
 * input, NULL-score tail included ([[CosineTopK]]).
 *
 * Runs in every graft session ([[GraftPlanner]]); excluded by
 * `spark.sql.optimizer.excludedRules=graft.plans.FuseCosineTopK`.
 */
object FuseCosineTopK extends Rule[LogicalPlan] with PredicateHelper {

  /** The Spark-inserted WindowGroupLimit (if any) between Window and its
    * input is subsumed by the fused operator. */
  private def stripGroupLimit(plan: LogicalPlan): LogicalPlan = plan match {
    case wgl: WindowGroupLimit => wgl.child
    case other => other
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformDown {
    case outer @ Project(outProj, Filter(cond, Window(
          Seq(rnAlias @ Alias(WindowExpression(RowNumber(), wspec), _)),
          Seq(part: AttributeReference),
          Seq(SortOrder(score: AttributeReference, Descending, NullsLast, _),
              SortOrder(id: AttributeReference, Ascending, NullsFirst, _)),
          wchild, _)))
        if wspec.partitionSpec == Seq(part) =>
      val fusedOut = AttributeSet(Seq(part, id, score))
      val (limits, rest) = splitConjunctivePredicates(cond).partition {
        case LessThanOrEqual(rn: AttributeReference, Literal(_: Int, IntegerType)) =>
          rn.exprId == rnAlias.exprId
        case _ => false
      }
      val fused = limits match {
        case Seq(LessThanOrEqual(_, Literal(k: Int, _)))
            if k > 0 && outer.references.subsetOf(fusedOut) &&
              rest.forall(c => c.deterministic && c.references.subsetOf(fusedOut)) =>
          tryFuse(k, part, id, score, stripGroupLimit(wchild))
        case _ => None
      }
      fused.map { node =>
        Project(outProj, rest.reduceOption(And).fold(node: LogicalPlan)(Filter(_, node)))
      }.getOrElse(outer)
  }

  private def isVector(a: Attribute): Boolean = a.dataType match {
    case ArrayType(FloatType | DoubleType, _) => true
    case _ => false
  }

  /** Validate the scoring projection and join, and assemble the fused
    * node; None leaves the original plan untouched. */
  private def tryFuse(k: Int, part: AttributeReference, id: AttributeReference,
                      score: AttributeReference,
                      child: LogicalPlan): Option[CosineTopK] = child match {
    case Project(proj, Join(vectors, probes, Cross | Inner, cond, _))
        if part.dataType == LongType && id.dataType == LongType =>
      // every projected column is a join column, passed through or
      // renamed, or the score; `source` maps an output back to its column
      def source(a: Attribute): Option[Attribute] = proj.collectFirst {
        case r: AttributeReference if r.exprId == a.exprId => r
        case al @ Alias(r: AttributeReference, _) if al.exprId == a.exprId => r
      }
      val columnsOnly = proj.forall {
        case _: AttributeReference | Alias(_: AttributeReference, _) => true
        case al: Alias => al.exprId == score.exprId
        case _ => false
      }
      // the score column must be round(cosine(l, r) + 1e-9, 6) with one
      // argument from each join side
      val scored = proj.collectFirst {
        case al @ Alias(Round(Add(CosineSimilarity(x: AttributeReference,
              y: AttributeReference), Literal(nudge: Double, DoubleType), _),
            Literal(6, IntegerType), _), _)
            if al.exprId == score.exprId && nudge == 1e-9 =>
          if (vectors.outputSet.contains(x)) (x, y) else (y, x)
      }
      for {
        (vec, pvec) <- scored
        idSrc <- source(id)
        partSrc <- source(part)
        if columnsOnly && isVector(vec) && isVector(pvec) &&
          vectors.outputSet.contains(vec) && vectors.outputSet.contains(idSrc) &&
          probes.outputSet.contains(pvec) && probes.outputSet.contains(partSrc)
        excludeSelf <- cond match {
          case None => Some(false)
          case Some(Not(EqualTo(a: AttributeReference, b: AttributeReference)))
              if Set(a.exprId, b.exprId) == Set(idSrc.exprId, partSrc.exprId) => Some(true)
          case _ => None
        }
      } yield CosineTopK(k, excludeSelf, Seq(part, id, score),
        Project(Seq(idSrc, vec), vectors), Project(Seq(partSrc, pvec), probes))
    case _ => None
  }
}
