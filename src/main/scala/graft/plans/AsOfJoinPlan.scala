package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{
  Ascending, Attribute, Expression, GenericInternalRow, JoinedRow,
  RowOrdering, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{
  ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}

/** Whole-operator as-of join as a first-class plan node — the (c) route of
  * SURVEY §7.0's custom-operator preference order: custom `LogicalPlan` +
  * `SparkStrategy` + `SparkPlan`; `AsOfJoinStrategy` is injected by
  * [[graft.GraftExtensions]], so every `GraftSession` plans the node.
  *
  * Semantics (identical to graft.ts.AsOfJoin.asOf and DuckDB `ASOF LEFT
  * JOIN`): for each left row, the single right row with equal keys and the
  * greatest right time <= left time; right columns NULL when no such row.
  *
  * Physical shape: both children hash-clustered on the join keys and
  * sorted (keys, time) — the SAME distribution a sort-merge equi-join
  * would demand, so at 100 TB it costs one exchange per side (none if the
  * data is already bucketed on the key) and a streaming single-pass merge
  * per partition with O(1) state (the one candidate right row). No window
  * state, no union frame, no candidate-pair blowup.
  */
case class AsOfJoinNode(
    left: LogicalPlan, right: LogicalPlan,
    leftKeys: Seq[Expression], rightKeys: Seq[Expression],
    leftTime: Expression, rightTime: Expression) extends BinaryNode {
  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoinNode =
    copy(left = newLeft, right = newRight)
}

/** Plans AsOfJoinNode into AsOfJoinExec; a no-op for every other node. */
object AsOfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoinNode(l, r, lk, rk, lt, rt) =>
      AsOfJoinExec(planLater(l), planLater(r), lk, rk, lt, rt) :: Nil
    case _ => Nil
  }
}

case class AsOfJoinExec(
    left: SparkPlan, right: SparkPlan,
    leftKeys: Seq[Expression], rightKeys: Seq[Expression],
    leftTime: Expression, rightTime: Expression) extends BinaryExecNode {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  // SparkPlan.nodeName strips the "Exec" suffix; keep the full name so
  // plan audits can pin this node unambiguously
  override def nodeName: String = "AsOfJoinExec"

  /** Hash-cluster both sides on the keys: EnsureRequirements co-partitions
    * the children (and elides the exchange entirely when a side is already
    * partitioned compatibly, e.g. bucketed storage).
    */
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(leftKeys) :: ClusteredDistribution(rightKeys) :: Nil

  /** (keys, time) ascending within partitions — the merge's precondition. */
  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    (leftKeys :+ leftTime).map(SortOrder(_, Ascending)),
    (rightKeys :+ rightTime).map(SortOrder(_, Ascending)))

  /** Left rows pass through in order, so partitioning and ordering are
    * preserved — downstream sorts/aggregations on the same keys elide.
    */
  override def outputPartitioning: Partitioning = left.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = requiredChildOrdering.head

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)

  override protected def doExecute(): RDD[InternalRow] = {
    val keyTypes = leftKeys.map(_.dataType)
    val numRightCols = right.output.size
    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val lKeyProj = UnsafeProjection.create(leftKeys, left.output)
      val rKeyProj = UnsafeProjection.create(rightKeys, right.output)
      val lTimeProj = UnsafeProjection.create(Seq(leftTime), left.output)
      val rTimeProj = UnsafeProjection.create(Seq(rightTime), right.output)
      val keyOrd = RowOrdering.createNaturalAscendingOrdering(keyTypes)
      val timeOrd =
        RowOrdering.createNaturalAscendingOrdering(Seq(leftTime.dataType))
      val nullRight = new GenericInternalRow(numRightCols)
      val joined = new JoinedRow
      val resultProj = UnsafeProjection.create(output, output)

      new Iterator[InternalRow] {
        // the right cursor; rows are buffered across left steps, so copy
        private var rHead: InternalRow = _
        private var rHeadKey: UnsafeRow = _
        private var rHeadTime: UnsafeRow = _
        private def advanceRight(): Unit =
          if (rIter.hasNext) {
            rHead = rIter.next().copy()
            rHeadKey = rKeyProj(rHead).copy()
            rHeadTime = rTimeProj(rHead).copy()
          } else { rHead = null; rHeadKey = null; rHeadTime = null }
        advanceRight()
        // the single-row merge state: latest right row at-or-before the
        // current left key/time (its key kept for validity checks)
        private var matchRow: InternalRow = _
        private var matchKey: UnsafeRow = _

        override def hasNext: Boolean = lIter.hasNext
        override def next(): InternalRow = {
          val l = lIter.next()
          val lKey = lKeyProj(l)
          val lTime = lTimeProj(l)
          val lTimeNull = lTime.isNullAt(0)
          var scan = true
          while (scan && rHead != null) {
            val c = keyOrd.compare(rHeadKey, lKey)
            if (c < 0) advanceRight() // right group exhausted, no consumer
            else if (c > 0) scan = false
            else if (rHeadTime.isNullAt(0)) advanceRight() // never matches
            else if (!lTimeNull && timeOrd.compare(rHeadTime, lTime) <= 0) {
              matchRow = rHead; matchKey = rHeadKey
              advanceRight()
            } else scan = false
          }
          val m =
            if (matchRow != null && keyOrd.compare(matchKey, lKey) == 0 &&
                !lTimeNull) matchRow
            else nullRight
          resultProj(joined(l, m))
        }
      }
    }
  }
}

/** DataFrame-level API over the plan node. */
object AsOfJoinPlan {

  /** As-of left join: `left` keeps every row; the matched right row's
    * columns are appended (NULL when no right row is at or before the left
    * row's time). Caller renames right columns to avoid collisions.
    */
  def asOf(left: DataFrame, right: DataFrame,
           leftKeyCols: Seq[String], rightKeyCols: Seq[String],
           leftTimeCol: String, rightTimeCol: String): DataFrame = {
    val spark = left.sparkSession
    val lp = left.queryExecution.analyzed
    val rp = right.queryExecution.analyzed
    def attr(p: LogicalPlan, n: String): Attribute =
      p.output.find(_.name == n).getOrElse(
        throw new IllegalArgumentException(
          s"column $n not in ${p.output.map(_.name).mkString(",")}"))
    val node = AsOfJoinNode(lp, rp,
      leftKeyCols.map(attr(lp, _)), rightKeyCols.map(attr(rp, _)),
      attr(lp, leftTimeCol), attr(rp, rightTimeCol))
    org.apache.spark.sql.graftshim.PlanBridge.ofRows(spark, node)
  }
}
