package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, Expression, GreaterThanOrEqual, LessThan, LessThanOrEqual, Literal, RowNumber, SortOrder, WindowExpression, WindowSpecDefinition}
import org.apache.spark.sql.catalyst.expressions.{Ascending, Descending}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Window, WindowGroupLimit}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType}

/** Optimizer rule: rewrites the ubiquitous window-function top-k idiom
  *
  * {{{ df.withColumn("rn", row_number.over(partitionBy(g).orderBy(v.desc, t.asc)))
  *      .filter($"rn" <= k) }}}
  *
  * into the [[TopKPerGroup]] plan operator, so the query executes as
  * bounded per-partition heaps + one clustered exchange instead of a
  * full per-group shuffle-sort-rank-discard. Spark's own
  * InferWindowGroupLimit already prunes rows below the Window for this
  * pattern; this rule goes further and removes the sort/window machinery
  * entirely (the inserted WindowGroupLimit is subsumed and stripped).
  *
  * The rewrite is deliberately CONSERVATIVE — it fires only when it is
  * provably semantics-preserving:
  *   - exactly one window expression, and it is `row_number()`;
  *   - ordering is exactly (value DESC, tie ASC) over non-nullable
  *     Double / Long attributes (TopKExec skips null values, row_number
  *     ranks them — nullable inputs therefore disqualify);
  *   - the filter is a plain `rn <= k` / `rn < k+1` on the rank output.
  * Anything else is left untouched.
  *
  * No session installs this rule: [[graft.GraftExtensions]] leaves it
  * out, because Bench times these windows as windows. Only the rule's
  * own spec adds it, to a session of its own.
  */
object TopKRewriteRule extends Rule[LogicalPlan] {

  private def rankLimit(cond: Expression, rn: Attribute): Option[Int] = cond match {
    case LessThanOrEqual(a: Attribute, Literal(k: Int, IntegerType))
      if a.semanticEquals(rn) => Some(k)
    case LessThan(a: Attribute, Literal(k: Int, IntegerType))
      if a.semanticEquals(rn) => Some(k - 1)
    case GreaterThanOrEqual(Literal(k: Int, IntegerType), a: Attribute)
      if a.semanticEquals(rn) => Some(k)
    case _ => None
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case f @ Filter(cond,
        Window(
          Seq(alias @ Alias(WindowExpression(RowNumber(),
            WindowSpecDefinition(part,
              Seq(SortOrder(v: Attribute, Descending, _, _),
                  SortOrder(t: Attribute, Ascending, _, _)), _)), _)),
          _, _, inner, _)) =>
      // InferWindowGroupLimit may already have inserted a per-partition
      // pre-limit below the Window; TopKPerGroup subsumes it
      val child = inner match {
        case WindowGroupLimit(_, _, _, _, c) => c
        case other => other
      }
      val rn = alias.toAttribute
      rankLimit(cond, rn) match {
        case Some(k) if k > 0 &&
            v.dataType == DoubleType && !v.nullable &&
            t.dataType == LongType && !t.nullable &&
            part.forall(_.isInstanceOf[Attribute]) &&
            (part.map(_.asInstanceOf[Attribute]) :+ v :+ t)
              .forall(child.outputSet.contains) =>
          // same conf-driven partial group cap the DataFrame API applies
          TopKPerGroup(part, v, t, k, rn, child,
            org.apache.spark.sql.internal.SQLConf.get
              .getConfString(TopKPlan.CapConf, TopKPlan.CapDefault.toString).toInt)
        case _ => f
      }
  }
}
