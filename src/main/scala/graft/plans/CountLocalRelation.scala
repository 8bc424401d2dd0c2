package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, Literal, NamedExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Count}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LocalRelation, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreePattern.AGGREGATE

/** Optimizer rule: a global `count(1)` over driver-held rows is their number,
  * which the driver knows. Spark plans `df.count()` over a LocalRelation as a
  * partial aggregate, an exchange and a final aggregate, two jobs; this rule
  * folds the `Aggregate` into a one-row LocalRelation, which an action reads
  * with no job. It fires only on an ungrouped `Aggregate` whose every output
  * is a plain `count` (not DISTINCT, no FILTER) of non-null literals, over a
  * non-streaming LocalRelation: a `count(x)` skips nulls, and a streaming
  * count is stateful across batches. A filter or projection above the rows
  * is folded into the LocalRelation first, by Spark's own
  * `ConvertToLocalRelation`.
  */
object CountLocalRelation extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformUpWithPruning(_.containsPattern(AGGREGATE)) {
      case Aggregate(Nil, counts, LocalRelation(_, rows, false, _), _)
          if counts.forall(countsRows) =>
        LocalRelation(counts.map(_.toAttribute),
          Seq(InternalRow.fromSeq(counts.map(_ => rows.size.toLong))))
    }

  private def countsRows(e: NamedExpression): Boolean = e match {
    case Alias(AggregateExpression(Count(args), _, false, None, _), _) =>
      args.forall { case Literal(v, _) => v != null; case _ => false }
    case _ => false
  }
}
