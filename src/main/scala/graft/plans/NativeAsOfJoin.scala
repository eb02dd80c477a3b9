package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.functions.col

/** Native as-of join — the full custom-operator stack (SURVEY.md §4.2 /
  * guide preference (c)): LogicalPlan node + planner Strategy + physical
  * merge executor, registered per-session via experimental strategies (or
  * GraftExtensions).
  *
  * Compared with the union+window formulation in ops.AsOfJoin (same
  * semantics, used by the oracled q_asof_join), this operator:
  *   - declares ClusteredDistribution on the keys, so EnsureRequirements
  *     co-partitions both sides exactly like a sort-merge join (and a
  *     bucketed layout satisfies it with zero exchanges);
  *   - declares per-partition (key, ts) ordering and then streams BOTH
  *     sides through a single forward merge pass — O(1) state, no window
  *     buffering, no union materialization.
  */
case class AsOfJoinNode(
    left: LogicalPlan, right: LogicalPlan,
    leftKeys: Seq[Attribute], rightKeys: Seq[Attribute],
    leftTs: Attribute, rightTs: Attribute,
    rightValues: Seq[Attribute],
    outRightAttrs: Seq[Attribute],
    rightTieBreak: Option[Attribute],
    toleranceMicros: Option[Long] = None,
    direction: String = "backward") extends BinaryNode {
  override def output: Seq[Attribute] = left.output ++ outRightAttrs
  // asof_* attrs are synthesized by this operator, not drawn from children
  override def producedAttributes: AttributeSet = AttributeSet(outRightAttrs)
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoinNode =
    copy(left = newLeft, right = newRight)
}

object AsOfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoinNode(l, r, lk, rk, lts, rts, rv, outAttrs, tb, tol, dir) =>
      AsOfJoinExec(planLater(l), planLater(r), lk, rk, lts, rts, rv, outAttrs, tb, tol, dir) :: Nil
    case _ => Nil
  }
}

case class AsOfJoinExec(
    left: SparkPlan, right: SparkPlan,
    leftKeys: Seq[Expression], rightKeys: Seq[Expression],
    leftTs: Expression, rightTs: Expression,
    rightValues: Seq[Expression],
    outRightAttrs: Seq[Attribute],
    rightTieBreak: Option[Expression],
    toleranceMicros: Option[Long] = None,
    direction: String = "backward") extends SparkPlan with BinaryExecNode {

  override def output: Seq[Attribute] = left.output ++ outRightAttrs

  override def producedAttributes: AttributeSet = AttributeSet(outRightAttrs)

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(leftKeys) :: ClusteredDistribution(rightKeys) :: Nil

  // Right rows sharing (key, ts) are consumed in tie-break order and the
  // LAST consumed wins, so the greatest tie-break value is carried —
  // deterministic, and exactly the union+window AsOfJoin's rightTieBreak
  // semantics. Without a tie-break the carried row on ties is
  // sort-nondeterministic (callers must then guarantee ts uniqueness).
  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    (leftKeys :+ leftTs).map(SortOrder(_, Ascending)),
    ((rightKeys :+ rightTs) ++ rightTieBreak).map(SortOrder(_, Ascending)))

  override def outputPartitioning: Partitioning = left.outputPartitioning

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)

  override protected def doExecute(): RDD[InternalRow] = {
    val leftOut = left.output
    val rightOut = right.output
    val keyTypes = leftKeys.map(_.dataType)
    val nRightVals = outRightAttrs.length
    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val lKeyProj = UnsafeProjection.create(leftKeys, leftOut)
      val rKeyProj = UnsafeProjection.create(rightKeys, rightOut)
      val lTsProj = UnsafeProjection.create(Seq(leftTs), leftOut)
      val rTsProj = UnsafeProjection.create(Seq(rightTs), rightOut)
      val rValProj = UnsafeProjection.create(rightValues, rightOut)
      val keyOrd = RowOrdering.createNaturalAscendingOrdering(keyTypes)
      val outProj = UnsafeProjection.create(output, output)
      val nullRight: InternalRow = new GenericInternalRow(nRightVals)
      val joined = new JoinedRow
      val tol = toleranceMicros
      val dir = direction

      new Iterator[InternalRow] {
        // single forward pass; all retained rows are copies (sorter reuses
        // its row buffers)
        private var rHead: InternalRow = _
        private var rHeadKey: UnsafeRow = _
        private var rHeadTs: Long = 0L
        private var lastKey: UnsafeRow = _
        private var lastVals: UnsafeRow = _
        private var lastTs: Long = 0L

        private def loadRight(): Boolean = {
          if (rHead == null && rIter.hasNext) {
            rHead = rIter.next().copy()
            rHeadKey = rKeyProj(rHead).copy()
            rHeadTs = rTsProj(rHead).getLong(0)
          }
          rHead != null
        }

        override def hasNext: Boolean = lIter.hasNext

        override def next(): InternalRow = {
          val lRow = lIter.next()
          val lKey = lKeyProj(lRow)
          val lTs = lTsProj(lRow).getLong(0)
          // backward/nearest consume rights through rts <= lTs, carrying
          // the last (= latest ts, greatest tie-break) as the backward
          // candidate; forward consumes STRICTLY before lTs so an
          // equal-ts right stays as the forward head. Either way a
          // consumed right can never match this or any later left row on
          // its side, so the pass stays single and O(1)-state.
          val inclusive = dir != "forward"
          var advancing = true
          while (advancing && loadRight()) {
            val cmp = keyOrd.compare(rHeadKey, lKey)
            if (cmp < 0 ||
                (cmp == 0 && (rHeadTs < lTs || (inclusive && rHeadTs == lTs)))) {
              if (cmp == 0 && inclusive) { // backward candidate; remember latest
                lastKey = rHeadKey
                lastVals = rValProj(rHead).copy()
                lastTs = rHeadTs
              }
              rHead = null // consume
            } else advancing = false
          }
          // tolerance bounds each side's distance (pandas merge_asof
          // semantics, same as ops.AsOfJoin)
          val bMatch = inclusive && lastVals != null && lastKey != null &&
            keyOrd.compare(lastKey, lKey) == 0 &&
            tol.forall(t => lTs - lastTs <= t)
          // the forward head is the FIRST right at or after lTs (smallest
          // tie-break within its timestamp, by the child ordering)
          val fMatch = dir != "backward" && rHead != null &&
            keyOrd.compare(rHeadKey, lKey) == 0 && rHeadTs >= lTs &&
            tol.forall(t => rHeadTs - lTs <= t)
          val vals: InternalRow = dir match {
            case "backward" => if (bMatch) lastVals else nullRight
            case "forward" => if (fMatch) rValProj(rHead) else nullRight
            case _ => // nearest: closer side wins, equidistant -> backward
              if (bMatch && fMatch)
                if (rHeadTs - lTs < lTs - lastTs) rValProj(rHead) else lastVals
              else if (bMatch) lastVals
              else if (fMatch) rValProj(rHead)
              else nullRight
          }
          outProj(joined(lRow, vals))
        }
      }
    }
  }
}

/** Public wrapper: as-of join via the native operator. Right side is
  * re-aliased first so self-joins can't collide attribute ids. The
  * session must run [[graft.functions.GraftExtensions]] (as
  * [[graft.GraftSession]] builds it), which plans the node and pushes
  * filters through it; the caller's session state is never modified.
  */
object NativeAsOfJoin {

  def join(leftDf: DataFrame, rightDf: DataFrame, keys: Seq[String],
      leftTs: String, rightTs: String, rightValues: Seq[String],
      rightTieBreak: Option[String] = None,
      toleranceMicros: Option[Long] = None,
      direction: String = "backward"): DataFrame = {
    // Same contract as ops.AsOfJoin.join — without this, the Exec's
    // `case _ => nearest` dispatch would silently run nearest semantics
    // for a typo like "fwd" (ADVICE r5), diverging from the DataFrame path.
    if (!Set("backward", "forward", "nearest").contains(direction))
      throw new IllegalArgumentException(
        s"direction must be backward|forward|nearest, got $direction")
    val spark = leftDf.sparkSession
    require(spark.sessionState.planner.strategies.contains(AsOfJoinStrategy),
      "NativeAsOfJoin needs a session built with graft.functions.GraftExtensions")
    // fresh exprIds on the right side (safe under self-join)
    val rSel = ((keys :+ rightTs) ++ rightValues ++ rightTieBreak).distinct
    val rAliased = rightDf.select(rSel.map(c => col(c).as(s"__r_$c")): _*)
    val lp = leftDf.queryExecution.analyzed
    val rp = rAliased.queryExecution.analyzed
    def attr(p: LogicalPlan, name: String): Attribute =
      p.output.find(_.name == name).getOrElse(
        throw new IllegalArgumentException(s"column $name not found in ${p.output.map(_.name)}"))
    val rVals = rightValues.map(v => attr(rp, s"__r_$v"))
    val outAttrs = rightValues.zip(rVals).map { case (name, a) =>
      AttributeReference(s"asof_$name", a.dataType, nullable = true)()
    }
    val node = AsOfJoinNode(lp, rp,
      keys.map(attr(lp, _)), keys.map(k => attr(rp, s"__r_$k")),
      attr(lp, leftTs), attr(rp, s"__r_$rightTs"), rVals, outAttrs,
      rightTieBreak.map(c => attr(rp, s"__r_$c")), toleranceMicros, direction)
    org.apache.spark.sql.graft.GraftSqlShims.ofRows(spark, node)
  }
}
