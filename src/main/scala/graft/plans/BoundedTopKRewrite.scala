package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types._

import graft.functions.BoundedTopK

/** Optimizer rule rewriting the ranking-window top-k ANTIPATTERN into
  * the bounded top-k aggregate — the plan-level fix for the
  * scale-killer PlanLintSpec flags: `row_number() OVER (PARTITION BY g
  * ORDER BY s) <= k` funnels every group's FULL row set through one
  * task per group; when the group count is trivial and the groups are
  * corpus-sized, that is a single-task corpus sort at 100 TB. The
  * rewritten plan partial-aggregates a ≤ k-row heap per group per map
  * task ([[graft.functions.BoundedTopK]]) and shuffles only the
  * serialized heaps — the exact trade the q21/q102/q104 hand-rewrites
  * made, applied automatically to any user query.
  *
  * Matched shape (post-analysis):
  * {{{
  *   Filter(rn <= K)                 — or rn < K+1, K >= rn, K > rn-?
  *     [Project(attrs..., rn)]       — optional attribute-only passthrough
  *       Window([rn = row_number() OVER (PARTITION BY p ORDER BY s)], p, s)
  * }}}
  * Rewritten to Aggregate(p, bounded_top_k(struct(s..., child.*), K))
  * → posexplode → Project reconstructing the original output
  * attributes (same exprIds, so the surrounding plan is untouched);
  * `rn` is rebuilt as `pos + 1`.
  *
  * Semantics: bit-identical when the window order is TOTAL (the
  * callers' discipline: end the sort in a unique tiebreak). With ties,
  * row_number itself is nondeterministic and the rewrite picks an
  * equally-arbitrary representative — the same semantics class.
  * Conservatively skipped when: any sort direction uses a non-default
  * null ordering, a sort key's type is not heap-orderable, K is
  * large (> [[MaxK]] — the heap must stay task-memory-bounded), or the
  * window computes anything besides the single row_number.
  *
  * Opt-in via `spark.graft.rewrite.boundedTopK=true` (plan changes
  * should be chosen, not sprung); installed by
  * [[graft.GraftExtensions.registerOptimizations]].
  */
case class BoundedTopKRewrite(spark: org.apache.spark.sql.SparkSession)
    extends Rule[LogicalPlan] {

  val MaxK = 1024

  private def enabled: Boolean =
    spark.conf.getOption("spark.graft.rewrite.boundedTopK")
      .orElse(spark.conf.getOption("graft.rewrite.boundedTopK"))
      .exists(v => v == "true" || v == "1")

  private def heapOrderable(dt: DataType): Boolean = dt match {
    case DoubleType | FloatType | LongType | TimestampType |
        TimestampNTZType | IntegerType | DateType | ShortType | ByteType |
        BooleanType | StringType | _: DecimalType => true
    case _ => false
  }

  /** Extracts K from the rank predicate, if the filter is exactly a
    * bound on `rn` (both orientations, <= and <). */
  private def rankBound(cond: Expression, rn: Attribute): Option[Int] = {
    def lit(e: Expression): Option[Int] = e match {
      case Literal(v: Int, IntegerType) => Some(v)
      case _ => None
    }
    cond match {
      case LessThanOrEqual(a: Attribute, l) if a.semanticEquals(rn) => lit(l)
      case LessThan(a: Attribute, l) if a.semanticEquals(rn) => lit(l).map(_ - 1)
      case GreaterThanOrEqual(l, a: Attribute) if a.semanticEquals(rn) => lit(l)
      case GreaterThan(l, a: Attribute) if a.semanticEquals(rn) => lit(l).map(_ - 1)
      case EqualTo(a: Attribute, l) if a.semanticEquals(rn) =>
        lit(l).filter(_ == 1) // rn = 1 is top-1
      case EqualTo(l, a: Attribute) if a.semanticEquals(rn) =>
        lit(l).filter(_ == 1)
      case _ => None
    }
  }

  /** The single row_number window expression, unwrapped. */
  private object RowNumberWindow {
    def unapply(w: Window): Option[(Alias, Seq[Expression], Seq[SortOrder], LogicalPlan)] =
      w match {
        case Window(Seq(a @ Alias(WindowExpression(RowNumber(),
              WindowSpecDefinition(part, order, SpecifiedWindowFrame(
                RowFrame, UnboundedPreceding, CurrentRow))), _)),
            _, _, child, _) =>
          Some((a, w.partitionSpec, order, child))
        case _ => None
      }
  }

  private def defaultNullOrdering(s: SortOrder): Boolean = s.direction match {
    case Ascending => s.nullOrdering == NullsFirst
    case Descending => s.nullOrdering == NullsLast
  }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (!enabled) return plan
    plan.transformUp {
      // Filter directly over the window
      case f @ Filter(cond, w @ RowNumberWindow(rnAlias, part, order, child)) =>
        rewrite(f, None, w, rnAlias, part, order, child, cond).getOrElse(f)
      // Filter over an attribute-only Project over the window
      case f @ Filter(cond,
          p @ Project(projList, w @ RowNumberWindow(rnAlias, part, order, child)))
          if projList.forall(_.isInstanceOf[Attribute]) =>
        rewrite(f, Some(p), w, rnAlias, part, order, child, cond).getOrElse(f)
    }
  }

  private def rewrite(
      filter: Filter,
      projectOpt: Option[Project],
      window: Window,
      rnAlias: Alias,
      part: Seq[Expression],
      order: Seq[SortOrder],
      child: LogicalPlan,
      cond: Expression): Option[LogicalPlan] = {
    val rnAttr = rnAlias.toAttribute
    for {
      k <- rankBound(cond, rnAttr)
      if k >= 1 && k <= MaxK
      if order.nonEmpty && order.forall(s =>
        heapOrderable(s.child.dataType) && defaultNullOrdering(s))
      // partition keys must be attributes for a plain Aggregate grouping
      if part.forall(_.isInstanceOf[Attribute])
    } yield {
      val partAttrs = part.map(_.asInstanceOf[Attribute])
      val sortExprs = order.map(_.child)
      val sortDesc = order.map(_.direction == Descending)
      val payload = child.output
      val structFields: Seq[Expression] =
        sortExprs.zipWithIndex.flatMap { case (e, i) =>
          Seq(Literal(s"_s$i"), e)
        } ++ payload.zipWithIndex.flatMap { case (a, i) =>
          Seq(Literal(s"_p$i"), a)
        }
      val packed = CreateNamedStruct(structFields)
      val topkAgg = AggregateExpression(
        BoundedTopK(packed, k, sortDesc), aggregate.Complete, isDistinct = false)
      val tkAlias = Alias(topkAgg, "_tk")()
      val agg = Aggregate(partAttrs, (partAttrs :+ tkAlias).toSeq, child)

      val structType = packed.dataType.asInstanceOf[StructType]
      val posAttr = AttributeReference("_pos", IntegerType, nullable = false)()
      val colAttr = AttributeReference("_col", structType, nullable = false)()
      val gen = Generate(PosExplode(tkAlias.toAttribute), Nil,
        outer = false, None, Seq(posAttr, colAttr), agg)

      // rebuild the ORIGINAL attributes (same exprIds) from the struct
      val nSort = sortExprs.length
      val rebuilt: Map[ExprId, Expression] = payload.zipWithIndex.map {
        case (a, i) => a.exprId ->
          GetStructField(colAttr, nSort + i, Some(s"_p$i"))
      }.toMap
      val rnExpr = Cast(Add(posAttr, Literal(1)), IntegerType)
      val requiredOut: Seq[Attribute] =
        projectOpt.map(_.output).getOrElse(window.output)
      val projList: Seq[NamedExpression] = requiredOut.map { a =>
        if (a.exprId == rnAttr.exprId)
          Alias(rnExpr, a.name)(exprId = a.exprId)
        else rebuilt.get(a.exprId) match {
          case Some(e) => Alias(e, a.name)(exprId = a.exprId)
          // a window-child attribute that the partition keys carry
          case None => a
        }
      }
      Project(projList, gen)
    }
  }
}
