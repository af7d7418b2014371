package graft.rules

import org.apache.spark.sql.catalyst.expressions.RowOrdering
import org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan, Sort}
import org.apache.spark.sql.catalyst.rules.Rule

/** Optimizer rule: a global `Sort` over a non-streaming `LocalRelation`
  * becomes the same `LocalRelation` with its rows sorted on the driver.
  *
  * The operators that fold their result on the driver (the unigram-LM
  * learners, `kCenterGreedy`) return local relations of a few hundred rows
  * at most, and their queries order them. Planned as `SortExec`, that
  * order costs a range-partitioned exchange: a sampling job, a map job and
  * a result job. Spark's `ConvertToLocalRelation` folds Project, Filter and
  * Limit over a `LocalRelation`, but not Sort; after this fold it runs
  * again, so `orderBy(..).limit(n)` folds whole.
  *
  * Equal by construction: the rows are sorted with
  * `RowOrdering.create(order, output)`, Catalyst's own comparator, so nulls
  * first/last, NaN and -0.0 order as `SortExec` orders them. The sort is
  * stable; `SortExec` is not, so only rows with tied keys may come out in
  * another order, which a global sort leaves unspecified anyway. Sort keys
  * must be deterministic.
  */
object LocalSortFold extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan = {
    val folded = plan.transformUp {
      case Sort(order, true, l: LocalRelation, _)
          if !l.isStreaming && order.forall(_.deterministic) =>
        l.copy(data = l.data.sorted(RowOrdering.create(order, l.output)))
    }
    if (folded eq plan) plan else convertToLocal(folded)
  }

  /** `ConvertToLocalRelation` to its fixed point: it folds top-down, so one
    * pass leaves a Limit above a Project over the sorted rows unfolded.
    */
  @annotation.tailrec private def convertToLocal(plan: LogicalPlan): LogicalPlan = {
    val next = ConvertToLocalRelation(plan)
    if (next eq plan) plan else convertToLocal(next)
  }
}
