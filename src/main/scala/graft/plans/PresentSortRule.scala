package graft.plans

import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Repartition, Sort, V2WriteCommand}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.command.DataWritingCommand
import org.apache.spark.sql.internal.SQLConf

/** Rewrites a ROOT-level presentation sort into a single-partition sort
  * when the input is provably small.
  *
  * A global `ORDER BY` plans as a range exchange, and building the range
  * bounds runs a SAMPLING JOB over the child RDD first. For a plan whose
  * final sort sits directly on a scan-side compute chain (per-row text
  * analysis, codec decode), that sampling pass re-executes the expensive
  * chain — the query pays for its own output ordering twice. When the
  * sorted result is dimension-sized, the range machinery buys nothing: a
  * round-robin shuffle into ONE partition followed by a local sort yields
  * the identical total order, executes the child exactly once, and keeps
  * the child's full parallelism (unlike `coalesce(1)`, which would drag
  * the whole chain into a single task).
  *
  * Scale posture: the rewrite is gated on TWO stats signals, both of
  * which must clear. (a) the child's estimated size
  * (`spark.graft.presentSort.maxBytes`, default 32 MB — a frame small
  * enough to broadcast is small enough to sort on one partition); and
  * (b) when the child's row count is KNOWN, it must also be under
  * 131072 rows (`MaxRows`). `sizeInBytes` alone is an ESTIMATE that can
  * lie low — schema-default column widths
  * (a string column estimates ~20 bytes regardless of content) and
  * un-materialized cached relations both under-report, which would
  * silently funnel a large result through one partition at exactly the
  * scale where it hurts. A lying byte estimate usually lies about
  * bytes-per-row, not rows, so the row bound catches it whenever row
  * counts propagate (range/limit/local relations); when neither signal
  * is trustworthy the default 32 MB through one task is survivable. At
  * 100 TB the scan-derived stats blow past the gate and the range sort
  * stays — exactly the plan a billion-row ORDER BY needs. Only the ROOT
  * sort is eligible: interior sorts (window framing, sort-merge joins)
  * carry semantics the executor picked deliberately.
  *
  * Installed by [[graft.GraftExtensions]] as a pre-CBO rule: one pass right
  * after the operator-optimization fixed point.
  */
object PresentSortRule extends Rule[LogicalPlan] {

  private def maxBytes: Long =
    SQLConf.get
      .getConfString("spark.graft.presentSort.maxBytes", "33554432")
      .toLong

  private val MaxRows: Long = 131072L

  private def rewrite(s: Sort): LogicalPlan = {
    val st = s.child.stats
    val rowsOk = st.rowCount.forall(_ <= BigInt(MaxRows))
    // a child already in one partition needs no exchange under the global
    // sort; the rewrite would only add a second single-partition shuffle
    if (s.global && !OnePartition.endsIn(s.child) &&
        st.sizeInBytes <= maxBytes && rowsOk)
      Sort(s.order, global = false,
        Repartition(1, shuffle = true, s.child), s.hint)
    else s
  }

  // the rewrite target, including Verify's `coalesce(1)` wrapper —
  // a 1-partition coalesce over a global sort is the same presentation
  // intent, and rewriting BOTH paths keeps the oracle-certified plan
  // shape identical to the bench-timed one (the rewrite already yields
  // a single partition, so the coalesce is subsumed)
  private def rewriteQuery(q: LogicalPlan): LogicalPlan = q match {
    case s: Sort => rewrite(s)
    case Repartition(1, false, s: Sort) => rewrite(s)
    case _ => q
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan match {
    // bare query root (collect / noop-sink paths where the sort is root)
    case s: Sort => rewrite(s)
    case r @ Repartition(1, false, _: Sort) =>
      rewriteQuery(r)
    // v2 write sinks (noop): the ordered query hangs off the write command
    case w: V2WriteCommand =>
      val rq = rewriteQuery(w.query)
      if (rq eq w.query) w else w.withNewQuery(rq)
    // v1 write sinks (Verify's parquet dump)
    case d: DataWritingCommand =>
      val rq = rewriteQuery(d.query)
      if (rq eq d.query) d else d.withNewChildren(Seq(rq))
    case _ => plan
  }
}
