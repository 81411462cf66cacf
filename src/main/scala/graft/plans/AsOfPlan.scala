package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.execution.SparkStrategy
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, BoundReference, GenericInternalRow, JoinedRow, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution}

/** Whole-operator AS-OF JOIN as a first-class Catalyst citizen — the brief's
  * option (c): a custom logical node, planner strategy and physical operator
  * registered through `SparkSessionExtensions`, used where composing
  * built-ins costs more than the semantics require. The declarative
  * union+window encoding (AsOf.asofWindow, kept for sessions without this
  * strategy and as the parity tests' reference) materializes BOTH streams into one sorted window pass —
  * 2x the row volume through the sort and a window carry whose state is a
  * struct per row. This operator instead asks Catalyst for the SAME
  * distribution/ordering guarantees a sort-merge join gets (children
  * hash-clustered by key, sorted by (key, time[, tieBreak])) and then
  * merges the two sorted iterators in ONE streaming pass per partition:
  * O(1) state (the current carry row), zero extra materialization, no
  * window buffer. At 100 TB both sides co-partition by the join key
  * exactly like any SMJ — the operator adds nothing beyond the exchanges
  * the join itself requires (bucketed tables make those vanish too).
  *
  * Reference semantics (OMLDM has no as-of operator; this serves the q17/
  * q45/q62/mm08 query family): for each left row, attach the right row
  * with the greatest rightTime <= leftTime within the same key; ties on
  * rightTime resolve to the greatest tieBreak. Exactly
  * [[graft.operators.AsOf.asofJoin]]'s contract — the parity suite pins
  * bit-equality between the two implementations, and every driver oracle
  * gates the fused results.
  *
  * Contract: join keys and times are non-null — ENFORCED at the
  * [[graft.operators.AsOf.asofJoin]] API boundary (both paths wrap
  * key/time columns in a raise-on-null guard, so native and window fail
  * identically instead of diverging); time columns on both sides share a
  * comparable type ordering (timestamp/long/int — the cast the window
  * path applies is order-preserving, so results coincide).
  */
case class AsOfJoinNode(
    left: LogicalPlan,
    right: LogicalPlan,
    leftKey: Attribute,
    rightKey: Attribute,
    leftTime: Attribute,
    rightTime: Attribute,
    payload: Seq[Attribute],
    tieBreak: Attribute,
    forward: Boolean = false) extends BinaryNode {
  override def output: Seq[Attribute] =
    left.output ++ payload.map(_.withNullability(true))
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoinNode =
    copy(left = newLeft, right = newRight)
}

/** Plans [[AsOfJoinNode]] onto [[AsOfMergeJoinExec]]. */
object AsOfStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoinNode(l, r, lk, rk, lt, rt, payload, tie, fwd) =>
      AsOfMergeJoinExec(planLater(l), planLater(r), lk, rk, lt, rt,
        payload, tie, fwd) :: Nil
    case _ => Nil
  }
}

/** Single-pass sorted merge for the as-of join, both directions.
  *
  * Children arrive hash-clustered on the key and sorted ASCENDING by
  * (key, time) / (key, time, tieBreak) — EnsureRequirements inserts the
  * exchanges and sorts exactly as for a sort-merge join, and co-partitions
  * the two sides. Backward ("greatest rightTime <= t, ties by greatest
  * tieBreak"): advance the right iterator while its (key, time) does not
  * exceed the current left row's, remembering the last same-key row seen
  * (the carry — O(1) state). Forward ("smallest rightTime >= t, ties by
  * smallest tieBreak"): advance the right iterator PAST rows strictly
  * before the left time and match the row the pointer rests on — pure
  * lookahead, zero state; the same ascending orderings serve both
  * directions because the forward winner is the FIRST admissible row in
  * sort order where the backward winner is the LAST.
  */
case class AsOfMergeJoinExec(
    left: SparkPlan,
    right: SparkPlan,
    leftKey: Attribute,
    rightKey: Attribute,
    leftTime: Attribute,
    rightTime: Attribute,
    payload: Seq[Attribute],
    tieBreak: Attribute,
    forward: Boolean = false) extends BinaryExecNode {

  override def output: Seq[Attribute] =
    left.output ++ payload.map(_.withNullability(true))

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(leftKey :: Nil) ::
      ClusteredDistribution(rightKey :: Nil) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    Seq(SortOrder(leftKey, org.apache.spark.sql.catalyst.expressions.Ascending),
      SortOrder(leftTime, org.apache.spark.sql.catalyst.expressions.Ascending)),
    Seq(SortOrder(rightKey, org.apache.spark.sql.catalyst.expressions.Ascending),
      SortOrder(rightTime, org.apache.spark.sql.catalyst.expressions.Ascending),
      SortOrder(tieBreak, org.apache.spark.sql.catalyst.expressions.Ascending)))

  override def outputPartitioning = left.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = requiredChildOrdering.head

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfMergeJoinExec =
    copy(left = newLeft, right = newRight)

  override protected def doExecute(): RDD[InternalRow] = {
    val lKeyOrd = left.output.indexWhere(_.exprId == leftKey.exprId)
    val lTimeOrd = left.output.indexWhere(_.exprId == leftTime.exprId)
    val rKeyOrd = right.output.indexWhere(_.exprId == rightKey.exprId)
    val rTimeOrd = right.output.indexWhere(_.exprId == rightTime.exprId)
    require(lKeyOrd >= 0 && lTimeOrd >= 0 && rKeyOrd >= 0 && rTimeOrd >= 0)
    val keyType = leftKey.dataType
    val timeTypeL = leftTime.dataType
    val timeTypeR = rightTime.dataType
    val payloadOrds = payload.map(p =>
      right.output.indexWhere(_.exprId == p.exprId))
    require(payloadOrds.forall(_ >= 0))
    val rightSchema = right.output
    val numPayload = payload.length

    left.execute().zipPartitions(right.execute()) { (li, ri) =>
      val keyOrdering =
        TypeUtils.getInterpretedOrdering(keyType)
      // left/right time types may differ nominally (timestamp vs long in
      // caller-specific encodings never mix in practice; the analyzer
      // resolved both from the same column family) — compare through the
      // left type's ordering
      val timeOrdering = TypeUtils.getInterpretedOrdering(timeTypeL)
      require(timeTypeR == timeTypeL,
        s"as-of time types differ: $timeTypeL vs $timeTypeR")
      // the right key is bound with the LEFT key's type below — a silent
      // wrong-slot read if the caller ever passed mismatched key types
      require(rightKey.dataType == keyType,
        s"as-of key types differ: $keyType vs ${rightKey.dataType}")
      val lKeyRef = BoundReference(lKeyOrd, keyType, nullable = true)
      val lTimeRef = BoundReference(lTimeOrd, timeTypeL, nullable = true)
      val rKeyRef = BoundReference(rKeyOrd, keyType, nullable = true)
      val rTimeRef = BoundReference(rTimeOrd, timeTypeR, nullable = true)
      val payloadProj = UnsafeProjection.create(payload, rightSchema)
      val nullPayload = new GenericInternalRow(numPayload)
      val joined = new JoinedRow

      new Iterator[InternalRow] {
        private var carry: InternalRow = _ // copied; last admissible right
        private var carryKey: Any = _
        private var rNext: InternalRow = if (ri.hasNext) ri.next() else null

        override def hasNext: Boolean = li.hasNext

        override def next(): InternalRow = {
          val l = li.next()
          val lk = lKeyRef.eval(l)
          val lt = lTimeRef.eval(l)
          if (forward) {
            // advance PAST right rows strictly before (lk, lt); the row
            // the pointer rests on is the smallest admissible one (ties
            // already ordered by smallest tieBreak). Pure lookahead — the
            // pointer is never consumed, later left rows (same key,
            // larger time) may match the same row.
            var advancing = true
            while (advancing && rNext != null) {
              val rk = rKeyRef.eval(rNext)
              val kc = keyOrdering.compare(rk, lk)
              if (kc < 0 || (kc == 0 &&
                  timeOrdering.compare(rTimeRef.eval(rNext), lt) < 0)) {
                rNext = if (ri.hasNext) ri.next() else null
              } else advancing = false
            }
            val matched = rNext != null &&
              keyOrdering.compare(rKeyRef.eval(rNext), lk) == 0
            if (matched) joined(l, payloadProj(rNext))
            else joined(l, nullPayload)
          } else {
            // advance the right side while (rKey, rTime) <= (lk, lt) in
            // the merge order; same-key rows become the carry (copied —
            // the child iterator reuses its row buffer)
            var advancing = true
            while (advancing && rNext != null) {
              val rk = rKeyRef.eval(rNext)
              val kc = keyOrdering.compare(rk, lk)
              if (kc < 0) {
                rNext = if (ri.hasNext) ri.next() else null
              } else if (kc == 0 &&
                  timeOrdering.compare(rTimeRef.eval(rNext), lt) <= 0) {
                // re-evaluate the key from the COPIED row: for non-primitive
                // key types (UTF8String, Decimal, binary) the value eval'd
                // against rNext aliases the child iterator's reused row
                // buffer, and advancing the iterator would overwrite the
                // bytes under carryKey
                carry = rNext.copy(); carryKey = rKeyRef.eval(carry)
                rNext = if (ri.hasNext) ri.next() else null
              } else advancing = false
            }
            val matched = carry != null &&
              keyOrdering.compare(carryKey, lk) == 0
            if (matched) joined(l, payloadProj(carry))
            else joined(l, nullPayload)
          }
        }
      }
    }
  }
}
