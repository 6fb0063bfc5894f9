package graft.plans

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, BindReferences, Expression, JoinedRow, RowOrdering, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{AllTuples, ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.graftbridge.Bridge

/** Native interval-overlap join — the engine's SECOND whole-operator
  * Catalyst extension beside [[AsOfJoinPlan]] (SURVEY §7.3 (c)).
  *
  * Semantics: emit every (left, right) pair with equal keys whose CLOSED
  * intervals overlap — `ls <= re AND rs <= le` — matching
  * `j20_interval_overlap_join`'s predicate and DuckDB's plain inequality
  * join.
  *
  * Why a physical operator: the composed form (j20) equi-joins on
  * covered time buckets and FILTERS the Σ_b |A_b|·|B_b| candidate pairs
  * — every co-bucketed non-overlapping pair is materialised just to be
  * thrown away, and dense buckets pay quadratically. This exec asks
  * Catalyst for the key clustering plus a (key, start) sort per side and
  * runs one PLANE SWEEP per partition: rights enter an active buffer in
  * start order, leave it permanently once `re < ls` (left starts only
  * grow), and each left row scans exactly the currently-active set. Cost
  * is |L| + |R| + output + evictions; the buffer is bounded by the
  * maximum true interval CONCURRENCY per key — a property of the data's
  * overlap structure, not its size.
  *
  * Distribution contract: with equi keys the children arrive
  * `ClusteredDistribution`-partitioned (bucketed storage makes the
  * exchanges vanish). With NO keys the exec demands `AllTuples` — a
  * deliberate single-partition stance: a keyless interval join has no
  * hash home, and the scale answer is to MAKE a key (the j20 bucket
  * explode, a date, a tenant) and let the sweep run per bucket — the
  * registered `j20b` form does exactly that, sweeping within buckets
  * instead of cross-producting them.
  */
final case class IntervalJoinPlan(
    left: LogicalPlan,
    right: LogicalPlan,
    leftKeys: Seq[Expression],
    rightKeys: Seq[Expression],
    leftStart: Expression,
    leftEnd: Expression,
    rightStart: Expression,
    rightEnd: Expression) extends BinaryNode {
  override def output: Seq[Attribute] = left.output ++ right.output
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): IntervalJoinPlan =
    copy(left = newLeft, right = newRight)
}

object IntervalJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case IntervalJoinPlan(l, r, lk, rk, ls, le, rs, re) =>
      IntervalJoinExec(lk, rk, ls, le, rs, re,
        planLater(l), planLater(r)) :: Nil
    case _ => Nil
  }
}

/** Per-partition plane sweep over key-clustered, start-sorted children.
  * Active-buffer invariant: every buffered right row has the CURRENT
  * left key and `re >= ls` for the current left row; rows are appended
  * in `rs` order and compacted on eviction, so per-left emission scans
  * a contiguous array.
  */
final case class IntervalJoinExec(
    leftKeys: Seq[Expression],
    rightKeys: Seq[Expression],
    leftStart: Expression,
    leftEnd: Expression,
    rightStart: Expression,
    rightEnd: Expression,
    left: SparkPlan,
    right: SparkPlan) extends BinaryExecNode {

  override def output: Seq[Attribute] = left.output ++ right.output

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext,
      "number of output rows"),
    // a size metric, not a plain metric: the driver-side merge of plain
    // metrics SUMS task values, which would misreport a cross-task peak.
    // Size metrics surface min/med/max across tasks in the UI — the max
    // column IS the true peak; the headline number remains a sum and is
    // labelled as such.
    "maxActive" -> SQLMetrics.createSizeMetric(sparkContext,
      "per-task peak active-buffer rows (sum over tasks; see max)"))

  override def requiredChildDistribution: Seq[Distribution] =
    if (leftKeys.isEmpty) AllTuples :: AllTuples :: Nil
    else ClusteredDistribution(leftKeys) ::
      ClusteredDistribution(rightKeys) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    leftKeys.map(SortOrder(_, Ascending)) :+ SortOrder(leftStart, Ascending),
    rightKeys.map(SortOrder(_, Ascending)) :+
      SortOrder(rightStart, Ascending))

  override def outputPartitioning: Partitioning = left.outputPartitioning

  override def outputOrdering: Seq[SortOrder] =
    leftKeys.map(SortOrder(_, Ascending)) :+ SortOrder(leftStart, Ascending)

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): IntervalJoinExec =
    copy(left = newLeft, right = newRight)

  protected override def doExecute(): RDD[InternalRow] = {
    val numOutputRows = longMetric("numOutputRows")
    val maxActive = longMetric("maxActive")
    val lOut = left.output
    val rOut = right.output
    val lKeyExprs = leftKeys
    val rKeyExprs = rightKeys
    val keyTypes = leftKeys.map(_.dataType)
    val timeType = leftStart.dataType
    val (lsE, leE, rsE, reE) = (leftStart, leftEnd, rightStart, rightEnd)
    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      if (!lIter.hasNext || !rIter.hasNext) Iterator.empty
      else new Iterator[InternalRow] {
        private val lKeyProj = UnsafeProjection.create(lKeyExprs, lOut)
        private val rKeyProj = UnsafeProjection.create(rKeyExprs, rOut)
        private val keyOrd =
          RowOrdering.createNaturalAscendingOrdering(keyTypes)
        private val lsB = BindReferences.bindReference(lsE, lOut)
        private val leB = BindReferences.bindReference(leE, lOut)
        private val rsB = BindReferences.bindReference(rsE, rOut)
        private val reB = BindReferences.bindReference(reE, rOut)
        private val timeOrd = TypeUtils.getInterpretedOrdering(timeType)
        private val joined = new JoinedRow
        private val resultProj = UnsafeProjection.create(
          (lOut.map(_.dataType) ++ rOut.map(_.dataType)).toArray)

        // active right rows for the current key: copies, in rs order
        private val active = ArrayBuffer.empty[InternalRow]
        private var curKey: UnsafeRow = null
        private var rRow: InternalRow =
          if (rIter.hasNext) rIter.next() else null

        // current left row being expanded + scan index into `active`
        private var lRow: InternalRow = null
        private var lTimeEnd: Any = null
        private var ai = 0
        private var out: InternalRow = null

        /** Align the right stream and the active buffer to the left row
          * (key, ls, le): clear on key change, skip smaller-key rights,
          * evict re < ls, consume rights with rs <= le.
          */
        private def align(lKey: UnsafeRow, ls: Any, le: Any): Unit = {
          if (curKey == null || keyOrd.compare(lKey, curKey) != 0) {
            active.clear()
            curKey = lKey.copy()
          }
          // evict expired rights (compacting keeps rs order)
          if (active.nonEmpty) active.filterInPlace { row =>
            val re = reB.eval(row)
            re != null && !timeOrd.lt(re, ls)
          }
          var done = rRow == null
          while (!done) {
            val rk = rKeyProj(rRow)
            val c = keyOrd.compare(rk, lKey)
            if (c > 0) done = true
            else if (c < 0) {
              rRow = if (rIter.hasNext) rIter.next() else null
              done = rRow == null
            } else {
              val rs = rsB.eval(rRow)
              if (rs == null) {
                // unbounded-below rows cannot be ordered; skip them
                rRow = if (rIter.hasNext) rIter.next() else null
                done = rRow == null
              } else if (timeOrd.gt(rs, le)) done = true
              else {
                val re = reB.eval(rRow)
                // keep only if still alive for this left
                if (re != null && !timeOrd.lt(re, ls))
                  active += rRow.copy()
                rRow = if (rIter.hasNext) rIter.next() else null
                done = rRow == null
              }
            }
          }
          if (active.length > maxActive.value) maxActive.set(active.length)
        }

        private def computeNext(): Unit = {
          out = null
          while (out == null) {
            if (lRow != null) {
              // scan remaining active entries for this left row
              var found = false
              while (!found && ai < active.length) {
                val cand = active(ai)
                ai += 1
                val rs = rsB.eval(cand)
                // invariant guarantees re >= ls; rs <= le must be
                // re-checked (entries were admitted under other lefts)
                if (rs != null && !timeOrd.gt(rs, lTimeEnd)) {
                  out = resultProj(joined(lRow, cand))
                  numOutputRows += 1
                  found = true
                }
              }
              if (!found) { lRow = null; ai = 0 }
              if (out != null) return
            }
            if (lRow == null) {
              if (!lIter.hasNext) return
              val cand = lIter.next()
              val ls = lsB.eval(cand)
              val le = leB.eval(cand)
              if (ls != null && le != null) {
                val lKey = lKeyProj(cand)
                align(lKey, ls, le)
                if (active.nonEmpty) {
                  lRow = cand.copy()
                  lTimeEnd = le
                  ai = 0
                }
              }
            }
          }
        }

        override def hasNext: Boolean = {
          if (out == null) computeNext()
          out != null
        }

        override def next(): InternalRow = {
          if (out == null) computeNext()
          val r = out
          out = null
          r
        }
      }
    }
  }
}

object IntervalOverlapJoin {
  /** Idempotently attach the planner strategy to a running session. */
  private def register(spark: SparkSession): Unit =
    if (!spark.experimental.extraStrategies.contains(IntervalJoinStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ IntervalJoinStrategy

  /** Overlap-join two frames on equal `keys` and closed-interval overlap
    * `[lStart, lEnd] ∩ [rStart, rEnd] ≠ ∅`. Column names must be
    * disjoint between the sides. Pass empty key lists ONLY for inputs
    * small enough for one partition — make a bucket key otherwise.
    */
  def overlap(
      left: DataFrame, right: DataFrame,
      leftKeys: Seq[String], rightKeys: Seq[String],
      lStart: String, lEnd: String,
      rStart: String, rEnd: String): DataFrame = {
    val spark = left.sparkSession
    register(spark)
    require(leftKeys.length == rightKeys.length,
      "interval join: key arity mismatch")
    require(left.columns.toSet.intersect(right.columns.toSet).isEmpty,
      "interval join: overlapping column names — alias one side")
    val lPlan = Bridge.analyzed(left)
    val rPlan = Bridge.analyzed(right)
    def res(p: LogicalPlan, n: String): Attribute =
      p.output.find(_.name == n).getOrElse(
        throw new IllegalArgumentException(
          s"interval join: no column '$n' in " +
            s"[${p.output.map(_.name).mkString(", ")}]"))
    val node = IntervalJoinPlan(lPlan, rPlan,
      leftKeys.map(res(lPlan, _)), rightKeys.map(res(rPlan, _)),
      res(lPlan, lStart), res(lPlan, lEnd),
      res(rPlan, rStart), res(rPlan, rEnd))
    Bridge.ofRows(spark, node)
  }
}
