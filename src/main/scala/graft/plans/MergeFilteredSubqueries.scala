package graft.plans

import org.apache.spark.sql.catalyst.expressions.{And, Attribute, AttributeMap, AttributeSet, ExprId, Expression, NamedExpression, Or, ScalarSubquery, SubqueryExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreePattern.SCALAR_SUBQUERY

/** Lets Spark fold filtered scalar subqueries over one relation into one
  * scan.
  *
  * Spark's `MergeScalarSubqueries` merges two scalar subqueries only when
  * their plans match up to the aggregate list, so `(SELECT COUNT(*) FROM t
  * WHERE q BETWEEN 1 AND 10)` and `(SELECT SUM(a) FROM t WHERE q BETWEEN 11
  * AND 20)` each scan `t` (TPC-DS q9: 15 subqueries, 5 scans of
  * `store_sales`). This rule gives every such subquery the same filter:
  *
  * {{{
  *   Aggregate([], aggs_i, Filter(c_i, X))
  *     => Aggregate([], aggs_i FILTER (WHERE c_i), Filter(c_1 OR … OR c_n, X))
  * }}}
  *
  * after which `MergeScalarSubqueries` (a later batch) merges them into one
  * aggregate over one scan. Each aggregate still sees exactly the rows
  * `c_i` kept, so COUNT of no rows is 0 and SUM of no rows NULL, as before;
  * a NULL predicate drops the row in both forms.
  *
  * It fires on two or more uncorrelated scalar subqueries of one plan that
  * are global (no GROUP BY) aggregates over `Filter(c_i, X)` with at least
  * two distinct `c_i`, where `X` is one deterministic relation, compared
  * canonically below column-pruning Projects. DISTINCT aggregates,
  * nondeterministic predicates or aggregates, predicates holding a
  * subquery, and subqueries over different relations are left alone.
  *
  * Injected as a pre-CBO rule: it runs once on the main plan after
  * `OptimizeSubqueries` has fully optimized each subquery, so it builds
  * the column-pruning Projects itself (nothing prunes a subquery plan
  * again). A rewritten group has one filter, so a second pass is a no-op.
  */
object MergeFilteredSubqueries extends Rule[LogicalPlan] {

  /** A candidate subquery: its global aggregate, its filter, and the
    * relation under the filter. */
  private final case class Shape(agg: Aggregate, cond: Expression, rel: LogicalPlan)

  /** Below any Projects that only pass attributes through. */
  private def unpruned(p: LogicalPlan): LogicalPlan = p match {
    case Project(list, child) if list.forall(_.isInstanceOf[Attribute]) => unpruned(child)
    case other => other
  }

  private def shapeOf(s: ScalarSubquery): Option[Shape] = s.plan match {
    case a: Aggregate if a.groupingExpressions.isEmpty && s.outerAttrs.isEmpty &&
        s.joinCond.isEmpty && !SubqueryExpression.hasCorrelatedSubquery(s) =>
      val aggs = a.aggregateExpressions.flatMap(_.collect { case e: AggregateExpression => e })
      unpruned(a.child) match {
        case Filter(cond, child) if aggs.nonEmpty && !aggs.exists(_.isDistinct) &&
            a.aggregateExpressions.forall(_.deterministic) && cond.deterministic &&
            !SubqueryExpression.hasSubquery(cond) && unpruned(child).deterministic =>
          Some(Shape(a, cond, unpruned(child)))
        case _ => None
      }
    case _ => None
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (!plan.containsPattern(SCALAR_SUBQUERY)) plan else rewrite(plan)

  private def rewrite(plan: LogicalPlan): LogicalPlan = {
    val candidates = plan.flatMap(_.expressions.flatMap(_.collect {
      case s: ScalarSubquery => s
    })).distinctBy(_.exprId).flatMap(s => shapeOf(s).map(s.exprId -> _))
    val rewrites: Map[ExprId, LogicalPlan] = candidates
      .groupBy(_._2.rel.canonicalized).values
      .filter(g => g.size > 1 && g.map(_._2.cond.canonicalized).distinct.size > 1)
      .flatMap(rewriteGroup).toMap
    if (rewrites.isEmpty) plan
    else plan.transformAllExpressions {
      case s: ScalarSubquery if rewrites.contains(s.exprId) =>
        s.withNewPlan(rewrites(s.exprId))
    }
  }

  /** Every member over the OR of the group's filters, each aggregate
    * filtered by its own subquery's predicate. The relations are
    * canonically equal, so their outputs match by position; each member
    * keeps its own relation and takes the others' predicates over it. */
  private def rewriteGroup(group: Seq[(ExprId, Shape)]): Seq[(ExprId, LogicalPlan)] =
    group.map { case (id, Shape(agg, cond, rel)) =>
      val conds = group.map { case (_, other) =>
        val toMine = AttributeMap(other.rel.output.zip(rel.output))
        other.cond.transform { case a: Attribute => toMine.getOrElse(a, a) }
      }
      val anyCond = conds.distinctBy(_.canonicalized).reduce(Or(_, _))
      val aggs = agg.aggregateExpressions.map(_.transform {
        case e: AggregateExpression =>
          e.copy(filter = Some(e.filter.fold(cond)(And(_, cond))))
      }.asInstanceOf[NamedExpression])
      val needed = AttributeSet(aggs.flatMap(_.references))
      val read = needed ++ anyCond.references
      id -> (agg.copy(aggregateExpressions = aggs,
        child = Project(rel.output.filter(needed.contains),
          Filter(anyCond, Project(rel.output.filter(read.contains), rel)))): LogicalPlan)
    }
}
