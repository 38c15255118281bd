package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, Expression, GenericInternalRow, JoinedRow, NamedExpression, RowOrdering, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}

/** AS-OF JOIN as a first-class operator: logical node → planner strategy →
  * sort-merge physical operator (the brief's "(c) custom LogicalPlan + Rule/
  * Strategy + SparkPlan registered via SparkSessionExtensions" tier, used
  * where it genuinely beats composition).
  *
  * Semantics (identical to the composed
  * [[graft.operators.Analytics.asofJoin]], spec-pinned): for every left row,
  * the value columns of the LATEST right row of the same key with
  * `right.ts <= left.ts` — at-or-before, ties among equal right (key, ts)
  * resolved by the trailing `rightTies` ordering (last wins), null
  * timestamps ordered NULLS FIRST exactly like the window formulation.
  *
  * Why a custom operator instead of the union+LOCF window (measured, not
  * asserted — the AsofJoinSpec shuffle probe):
  *  - each side shuffles and SORTS only its own rows at its own width; the
  *    union form sorts |L|+|R| padded rows in one window pass. Measured
  *    shuffle bytes: ~21% less on matched narrow sides, only ~3% less when
  *    a wide left dominates — UnsafeRow null slots + lz4 make the union's
  *    padding cheaper than the naive width arithmetic suggests, so the
  *    byte win is real but modest; the structural win is the smaller
  *    separate sorts and the streaming emit;
  *  - the merge keeps O(1) state (the latest right values for the current
  *    key) and emits left rows as they stream — no window buffer, no
  *    ignoreNulls frame scan (q_asof_join: 0.48 s vs 0.55 s warm at sf0.1).
  *
  * The exec declares `requiredChildDistribution` (co-clustered on the key)
  * and `requiredChildOrdering` ((key, ts, ties) ascending per side) and lets
  * `EnsureRequirements` insert the exchanges and sorts — the physical
  * operator is ONLY the merge loop, exactly how SortMergeJoinExec is built.
  */
case class AsofJoin(
    left: LogicalPlan,
    right: LogicalPlan,
    leftKey: Expression,
    rightKey: Expression,
    leftTs: Expression,
    rightTs: Expression,
    rightValues: Seq[NamedExpression],
    asofAttrs: Seq[Attribute],
    rightTies: Seq[Expression],
    toleranceUs: Long = -1L) extends BinaryNode {

  require(rightValues.length == asofAttrs.length, "one output attr per value")
  // tolerance subtracts raw ts values in the merge — only physical-long ts
  // types (timestamp micros, bigint) make that subtraction meaningful
  require(toleranceUs < 0L || !leftTs.resolved ||
    leftTs.dataType == org.apache.spark.sql.types.TimestampType ||
    leftTs.dataType == org.apache.spark.sql.types.LongType,
    s"as-of tolerance needs a timestamp/long ts, got ${leftTs.dataType}")
  // the exec builds its merge comparators from the LEFT side's types and
  // applies them to rows of BOTH sides — mismatched key/ts types would
  // silently corrupt ordering (or CCE at runtime), so reject at analysis
  require(!(leftKey.resolved && rightKey.resolved) ||
    leftKey.dataType == rightKey.dataType,
    s"as-of join key types must match: ${leftKey.dataType} vs ${rightKey.dataType}")
  require(!(leftTs.resolved && rightTs.resolved) ||
    leftTs.dataType == rightTs.dataType,
    s"as-of join ts types must match: ${leftTs.dataType} vs ${rightTs.dataType}")

  override def output: Seq[Attribute] = left.output ++ asofAttrs

  // the as-of value attributes are minted BY this operator (CheckAnalysis
  // would otherwise demand them from the children)
  override def producedAttributes: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(asofAttrs)

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsofJoin =
    copy(left = newLeft, right = newRight)
}

/** Column pruning THROUGH the custom node: Catalyst's `ColumnPruning` only
  * descends into operators it knows, so without this rule a
  * `select(few)`/`count()` above an [[AsofJoin]] scans and shuffles every
  * input column (observed: a pruned-to-nothing count() still shuffled the
  * full left width). Pushes a Project into each child keeping the columns
  * the parent references plus the node's own key/ts/value/tie inputs —
  * `output` recomputes from the pruned left, so the parent stays resolved.
  * Fixed-point safe: fires only when a child's output actually shrinks.
  * Injected via `injectOptimizerRule` (the operator-optimization batch).
  */
object AsofJoinColumnPruning
    extends org.apache.spark.sql.catalyst.rules.Rule[LogicalPlan] {
  import org.apache.spark.sql.catalyst.expressions.AttributeSet
  import org.apache.spark.sql.catalyst.plans.logical.Project

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformDown {
    case p @ Project(_, j: AsofJoin) =>
      val needed = AttributeSet(p.projectList.flatMap(_.references)) ++ j.references
      val keepL = j.left.output.filter(needed.contains)
      val keepR = j.right.output.filter(needed.contains)
      if (keepL.length < j.left.output.length || keepR.length < j.right.output.length) {
        val newLeft = if (keepL.length < j.left.output.length) Project(keepL, j.left) else j.left
        val newRight = if (keepR.length < j.right.output.length) Project(keepR, j.right) else j.right
        p.copy(child = j.copy(left = newLeft, right = newRight))
      } else p
  }
}

/** Plans [[AsofJoin]] to [[AsofJoinExec]]. Injected via
  * `SparkSessionExtensions.injectPlannerStrategy` in
  * [[graft.GraftExtensions]].
  */
object AsofJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case j: AsofJoin =>
      AsofJoinExec(planLater(j.left), planLater(j.right), j.leftKey, j.rightKey,
        j.leftTs, j.rightTs, j.rightValues, j.asofAttrs, j.rightTies,
        j.toleranceUs) :: Nil
    case _ => Nil
  }
}

case class AsofJoinExec(
    left: SparkPlan,
    right: SparkPlan,
    leftKey: Expression,
    rightKey: Expression,
    leftTs: Expression,
    rightTs: Expression,
    rightValues: Seq[NamedExpression],
    asofAttrs: Seq[Attribute],
    rightTies: Seq[Expression],
    toleranceUs: Long = -1L) extends BinaryExecNode {

  override def output: Seq[Attribute] = left.output ++ asofAttrs

  override def producedAttributes: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(asofAttrs)

  // co-cluster both sides on the key; EnsureRequirements adds the exchanges
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(leftKey :: Nil) :: ClusteredDistribution(rightKey :: Nil) :: Nil

  // per-partition merge order: (key, ts) on the left; (key, ts, ties) on the
  // right so equal-(key, ts) right rows resolve deterministically (last wins)
  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    Seq(SortOrder(leftKey, Ascending), SortOrder(leftTs, Ascending)),
    Seq(SortOrder(rightKey, Ascending), SortOrder(rightTs, Ascending)) ++
      rightTies.map(SortOrder(_, Ascending)))

  override def outputPartitioning: Partitioning = left.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = left.outputOrdering

  override protected def doExecute(): RDD[InternalRow] = {
    val keyTsTypes = Seq(leftKey.dataType, leftTs.dataType)
    val valueCount = rightValues.length
    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      // (key, ts) projections — comparing via the natural ascending
      // nulls-first ordering, the SAME total preorder the required
      // SortOrders impose, so merge advancement agrees with the sorts
      val lKeyTs = UnsafeProjection.create(Seq(leftKey, leftTs), left.output)
      val rKeyTs = UnsafeProjection.create(Seq(rightKey, rightTs), right.output)
      val keyTsOrd = RowOrdering.createNaturalAscendingOrdering(keyTsTypes)
      val keyOrd = RowOrdering.createNaturalAscendingOrdering(keyTsTypes.take(1))
      val rValueProj = UnsafeProjection.create(rightValues, right.output)
      val resultProj = UnsafeProjection.create(output, left.output ++ asofAttrs)
      val nullValues: InternalRow = new GenericInternalRow(valueCount)
      val joined = new JoinedRow

      new Iterator[InternalRow] {
        private var rHead: InternalRow = _            // un-consumed right row
        private var rHeadKeyTs: InternalRow = _
        private var lastValues: InternalRow = _       // latest eligible right values
        private var lastKeyTs: InternalRow = _        // ... and their (key, ts)

        private def advanceRightHead(): Unit = {
          if (rIter.hasNext) {
            rHead = rIter.next()
            rHeadKeyTs = rKeyTs(rHead)
          } else { rHead = null; rHeadKeyTs = null }
        }
        advanceRightHead()

        override def hasNext: Boolean = lIter.hasNext

        override def next(): InternalRow = {
          val l = lIter.next()
          val lkt = lKeyTs(l)
          // consume every right row at-or-before the left (key, ts); the
          // LAST consumed row of the left's key is the as-of match
          while (rHead != null && keyTsOrd.compare(rHeadKeyTs, lkt) <= 0) {
            lastValues = rValueProj(rHead).copy()
            lastKeyTs = rHeadKeyTs.copy()
            advanceRightHead()
          }
          // tolerance: the retained right row is the CLOSEST at-or-before
          // match, so if it is staler than the bound, no right row
          // qualifies; null timestamps never satisfy a bound
          val matched = lastKeyTs != null && keyOrd.compare(lastKeyTs, lkt) == 0 &&
            (toleranceUs < 0L || (!lkt.isNullAt(1) && !lastKeyTs.isNullAt(1) &&
              lkt.getLong(1) - lastKeyTs.getLong(1) <= toleranceUs))
          resultProj(joined(l, if (matched) lastValues else nullValues))
        }
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsofJoinExec =
    copy(left = newLeft, right = newRight)
}
