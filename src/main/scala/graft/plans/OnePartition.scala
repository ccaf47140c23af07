package graft.plans

import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project, Repartition, Window}

/** The one plan check for "this frame already sits in a single partition":
  * the plan ends in a `repartition(1)` or `coalesce(1)`, looking through
  * the operators that keep their child's partitioning (Project, Window,
  * Filter). Spark's `SinglePartition` satisfies every clustered and
  * ordered distribution, so a window keyed by `Exact.onePartition` or a
  * global sort above such a plan needs no exchange of its own.
  * `Ohlc.withSma` uses it to add its single-partition exchange once per
  * chain, and `PresentSortRule` to leave a sort over it alone.
  */
object OnePartition {
  def endsIn(plan: LogicalPlan): Boolean = plan match {
    case r: Repartition => r.numPartitions == 1
    case p: Project => endsIn(p.child)
    case w: Window => endsIn(w.child)
    case f: Filter => endsIn(f.child)
    case _ => false
  }
}
