package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftColumnBridge, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, Ascending, Attribute, BindReferences, EqualTo, Expression, GenericInternalRow, IsNull, JoinedRow, LessThan, LessThanOrEqual, PredicateHelper, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}

/** Whole-operator as-of join — the custom-plan extension tier (logical node
  * + planner strategy + physical operator), for semantics the built-in
  * operators can express only via join-then-rank (`Relational.asOfJoin`).
  *
  * Semantics: LEFT OUTER as-of. Backward (default): for each left row, the
  * single right row with equal key and the greatest (rightTime, tieBreak)
  * such that rightTime <= leftTime. Forward: the smallest
  * (rightTime, tieBreak) with rightTime >= leftTime. An optional tolerance
  * bounds the time gap in either direction. Null-extended when no row
  * qualifies; right rows with null key or time never match (SQL comparison
  * semantics).
  *
  * Scale shape: both sides hash-cluster on the key and sort within
  * partitions by (key, time[, tieBreak]) — exactly a sort-merge join's
  * distribution, but the merge keeps ONE candidate row instead of
  * buffering the right group, so execution is a single forward pass over
  * co-partitioned sorted runs: no join blow-up, no per-left-row window
  * state, no row_number pass over |left|×|matching right| intermediate.
  * The composed formulation (equi-join + rank filter) materializes that
  * intermediate; this operator never does — at 100 TB the difference is
  * the shuffle volume of the joined prefix.
  */
case class AsOfJoinPlan(
    left: LogicalPlan,
    right: LogicalPlan,
    leftKey: Expression,
    rightKey: Expression,
    leftTime: Expression,
    rightTime: Expression,
    rightTieBreak: Expression,
    toleranceMicros: Option[Long],
    forward: Boolean) extends BinaryNode {
  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoinPlan =
    copy(left = newLeft, right = newRight)
}

case class AsOfJoinExec(
    leftKey: Expression,
    rightKey: Expression,
    leftTime: Expression,
    rightTime: Expression,
    rightTieBreak: Expression,
    toleranceMicros: Option[Long],
    forward: Boolean,
    left: SparkPlan,
    right: SparkPlan) extends BinaryExecNode {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  /** Same distribution a sort-merge join would demand: co-partition both
    * sides on the key, sort runs by (key, time[, tieBreak]). */
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(leftKey :: Nil) :: ClusteredDistribution(rightKey :: Nil) :: Nil
  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    Seq(SortOrder(leftKey, Ascending), SortOrder(leftTime, Ascending)),
    Seq(SortOrder(rightKey, Ascending), SortOrder(rightTime, Ascending),
      SortOrder(rightTieBreak, Ascending)))
  override def outputPartitioning: Partitioning = left.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = left.outputOrdering

  protected override def doExecute(): RDD[InternalRow] = {
    val lOut = left.output
    val rOut = right.output
    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      // Cross-row predicates evaluated on JoinedRow(left, right) — null
      // keys/times yield null => false, i.e. SQL comparison semantics.
      val both = lOut ++ rOut
      val keyEq = BindReferences.bindReference(
        EqualTo(leftKey, rightKey): Expression, both)
      val rKeyBehind = BindReferences.bindReference(
        LessThan(rightKey, leftKey): Expression, both)
      val rTimeLe = BindReferences.bindReference(
        LessThanOrEqual(rightTime, leftTime): Expression, both)
      val rDead = BindReferences.bindReference(
        // rows that can never match anyone: null key or null time
        org.apache.spark.sql.catalyst.expressions.Or(
          IsNull(rightKey), IsNull(rightTime)): Expression, rOut)
      // bind against the nullability-ADJUSTED output (same exprIds): the
      // right child's attributes may claim non-null, but the null-extended
      // GenericInternalRow must still project as null, not as 0/""
      val proj = UnsafeProjection.create(output, output)
      // optional max-lookback bound, in the time column's physical unit
      // (micros for timestamps, raw for integral types); evaluated on the
      // FINAL candidate only — the best candidate either qualifies or
      // nothing does, so the single-row merge state is unaffected
      val lTimeB = BindReferences.bindReference(leftTime, lOut)
      val rTimeB = BindReferences.bindReference(rightTime, rOut)
      def withinTol(l: InternalRow, m: InternalRow): Boolean =
        toleranceMicros match {
          case None => true
          case Some(t) =>
            val lv = lTimeB.eval(l)
            val rv = rTimeB.eval(m)
            val gap =
              if (forward)
                (if (rv == null || lv == null) Long.MaxValue
                 else rv.asInstanceOf[Number].longValue -
                   lv.asInstanceOf[Number].longValue)
              else
                (if (rv == null || lv == null) Long.MaxValue
                 else lv.asInstanceOf[Number].longValue -
                   rv.asInstanceOf[Number].longValue)
            lv != null && rv != null && gap <= t
        }
      val nullRight = new GenericInternalRow(rOut.size)
      val joined = new JoinedRow

      def fetch(): InternalRow = {
        while (rIter.hasNext) {
          val r = rIter.next()
          if (rDead.eval(r) != true) return r.copy()
        }
        null
      }
      val rTimeLt = BindReferences.bindReference(
        LessThan(rightTime, leftTime): Expression, both)
      val rTimeGe = BindReferences.bindReference(
        org.apache.spark.sql.catalyst.expressions.GreaterThanOrEqual(
          rightTime, leftTime): Expression, both)
      var pending: InternalRow = fetch()
      var lastMatch: InternalRow = null

      if (forward) {
        // FORWARD: match = first right with equal key and time >= leftTime
        // (min (time, tieBreak) by the sort order). Rows with rt < lt are
        // dead for every later left of the same key (left times ascend),
        // so the scan just discards them — no candidate state at all. The
        // matched row is NOT consumed: the next left may need it again.
        lIter.map { l =>
          var break = false
          while (pending != null && !break) {
            joined(l, pending)
            if (rKeyBehind.eval(joined) == true ||
              (keyEq.eval(joined) == true && rTimeLt.eval(joined) == true)) {
              pending = fetch()
            } else break = true
          }
          // re-validate the TIME predicate too (not just the key): a null
          // left time must match nothing, and the scan-position invariant
          // alone doesn't say so
          val m =
            if (pending != null && keyEq.eval(joined(l, pending)) == true &&
              rTimeGe.eval(joined) == true && withinTol(l, pending)) pending
            else nullRight
          proj(joined(l, m))
        }
      } else lIter.map { l =>
        var break = false
        while (pending != null && !break) {
          joined(l, pending)
          if (rKeyBehind.eval(joined) == true) {
            // right run moved past lastMatch's key group, or lastMatch is
            // stale for this left key — it gets re-validated below anyway
            pending = fetch()
          } else if (keyEq.eval(joined) == true && rTimeLe.eval(joined) == true) {
            lastMatch = pending
            pending = fetch()
          } else break = true
        }
        val m =
          if (lastMatch != null && keyEq.eval(joined(l, lastMatch)) == true &&
            rTimeLe.eval(joined) == true && withinTol(l, lastMatch)) lastMatch
          else nullRight
        proj(joined(l, m))
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)
}

/** Planner strategy for graft's custom logical operators, installed per
  * session, idempotently, by `AsOfJoin.install`. */
object GraftStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoinPlan(l, r, lk, rk, lt, rt, tb, tol, fwd) =>
      AsOfJoinExec(lk, rk, lt, rt, tb, tol, fwd, planLater(l), planLater(r)) :: Nil
    case _ => Nil
  }
}

/** Optimizer rule completing the custom-operator story: Catalyst's generic
  * PushDownPredicates doesn't see through an unknown node, so a Filter
  * above the as-of join would keep the predicate out of the parquet scan.
  * Left-only deterministic conjuncts commute with the LEFT OUTER as-of
  * (they only drop left rows whose output row they'd drop anyway) — push
  * them into the left child, where the built-in rules take over and drive
  * them down to the source. Right-side predicates do NOT commute (dropping
  * a right row can change a match to a null-extension), so they stay put.
  */
object AsOfJoinFilterPushdown extends Rule[LogicalPlan] with PredicateHelper {
  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f @ Filter(cond, j: AsOfJoinPlan) =>
      val (push, keep) = splitConjunctivePredicates(cond)
        .partition(p => p.deterministic && p.references.subsetOf(j.left.outputSet))
      if (push.isEmpty) f
      else {
        val pushed = j.copy(left = Filter(push.reduce(And), j.left))
        keep.reduceOption(And).map(Filter(_, pushed)).getOrElse(pushed)
      }
  }
}

object AsOfJoin {
  /** Idempotent per-session registration (strategy + optimizer rule). */
  def install(spark: SparkSession): Unit = {
    GraftColumnBridge.installStrategy(spark, GraftStrategy)
    GraftColumnBridge.installOptimization(spark, AsOfJoinFilterPushdown)
  }

  /** Native as-of join: `left` and `right` must have disjoint column names
    * (project/rename first — also what keeps the unpruned right side
    * narrow, since generic optimizer rules don't prune through a custom
    * node). The right side is re-aliased internally so shared-lineage
    * frames (two branches of one scan) can't collide on expression ids. */
  def asOf(
      left: DataFrame,
      right: DataFrame,
      leftKey: String,
      rightKey: String,
      leftTs: String,
      rightTs: String,
      rightTieBreak: String,
      toleranceMicros: Option[Long] = None,
      forward: Boolean = false): DataFrame = {
    require(left.columns.toSet.intersect(right.columns.toSet).isEmpty,
      "asOf requires disjoint column names between sides")
    val spark = left.sparkSession
    install(spark)
    val lp = GraftColumnBridge.analyzed(left)
    val rp = GraftColumnBridge.analyzed(right.toDF(right.columns.toIndexedSeq: _*))
    def attr(p: LogicalPlan, n: String): Attribute =
      p.output.find(_.name == n).getOrElse(
        throw new IllegalArgumentException(s"no column $n in ${p.output.map(_.name)}"))
    GraftColumnBridge.ofRows(spark, AsOfJoinPlan(lp, rp,
      attr(lp, leftKey), attr(rp, rightKey),
      attr(lp, leftTs), attr(rp, rightTs), attr(rp, rightTieBreak),
      toleranceMicros, forward))
  }
}
