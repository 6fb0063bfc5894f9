package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, BindReferences, Expression, JoinedRow, RowOrdering, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.graftbridge.Bridge

/** Native backward as-of join — the engine's whole-operator Catalyst
  * extension (SURVEY §7.3 preference (c): custom `LogicalPlan` +
  * `SparkStrategy` + `SparkPlan`), complementing the composed form that
  * `j12_asof_join` builds from union + last-value window.
  *
  * Semantics: for each left row, the single right row with equal key and
  * the greatest right time ≤ left time (ties broken by the optional
  * `rightTie` column, largest wins — deterministic under any partitioning).
  * Inner flavour: left rows with no qualifying right row are dropped.
  *
  * Why a physical operator: the composed form shuffles the UNION of both
  * sides through one window, so every probe row pays the sort alongside
  * every build row and the last-value state walks both streams. The native
  * exec asks Catalyst for exactly what the merge needs —
  * `ClusteredDistribution` on the key and a (key, time) sort per side —
  * and then streams BOTH sorted children through a single forward-only
  * merge per partition: no union materialisation, no window state, output
  * stays sorted by (key, left time) for downstream reuse
  * (`outputOrdering`). At 100 TB both children arrive co-partitioned (or
  * already bucketed, in which case the exchanges vanish entirely) and the
  * merge is a zero-allocation pointer walk per partition.
  *
  * The reference has no as-of operator (closest shape: latest-view-before
  * reads in `dqa/data_getters.py`); this is a beyond-reference capability,
  * held to the same oracle as `j12_asof_join` (DuckDB `ASOF JOIN`).
  */
final case class AsOfJoinPlan(
    left: LogicalPlan,
    right: LogicalPlan,
    leftKeys: Seq[Expression],
    rightKeys: Seq[Expression],
    leftTime: Expression,
    rightTime: Expression,
    rightTies: Seq[Expression]) extends BinaryNode {
  override def output: Seq[Attribute] = left.output ++ right.output
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoinPlan =
    copy(left = newLeft, right = newRight)
}

/** Planner rule claiming [[AsOfJoinPlan]] nodes. `AsOfJoin.backward`
  * attaches it to the calling session's experimental strategies
  * (idempotently) before it builds the node.
  */
object AsOfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoinPlan(l, r, lk, rk, lt, rt, ties) =>
      AsOfJoinExec(lk, rk, lt, rt, ties, planLater(l), planLater(r)) :: Nil
    case _ => Nil
  }
}

/** Sort-merge backward as-of: children arrive clustered on the key and
  * sorted by (key, time[, ties]); each partition is joined by one
  * forward-only merge that keeps a single candidate row (the latest
  * right ≤ current left time for the current key). Cost per partition is
  * |left| + |right| comparisons and one buffered row — the minimum any
  * as-of evaluation can pay.
  */
final case class AsOfJoinExec(
    leftKeys: Seq[Expression],
    rightKeys: Seq[Expression],
    leftTime: Expression,
    rightTime: Expression,
    rightTies: Seq[Expression],
    left: SparkPlan,
    right: SparkPlan) extends BinaryExecNode {

  override def output: Seq[Attribute] = left.output ++ right.output

  // report like the built-in joins so the SQL UI / metric-reading tools
  // see the operator's output volume
  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"))

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(leftKeys) :: ClusteredDistribution(rightKeys) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    leftKeys.map(SortOrder(_, Ascending)) :+ SortOrder(leftTime, Ascending),
    rightKeys.map(SortOrder(_, Ascending)) ++
      (SortOrder(rightTime, Ascending) +: rightTies.map(SortOrder(_, Ascending))))

  override def outputPartitioning: Partitioning = left.outputPartitioning

  // the merge emits left rows in their incoming order — downstream ops can
  // reuse the (key, time) sort without re-sorting
  override def outputOrdering: Seq[SortOrder] =
    leftKeys.map(SortOrder(_, Ascending)) :+ SortOrder(leftTime, Ascending)

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)

  protected override def doExecute(): RDD[InternalRow] = {
    val numOutputRows = longMetric("numOutputRows")
    val lOut = left.output
    val rOut = right.output
    val lKeyExprs = leftKeys
    val rKeyExprs = rightKeys
    val lTimeExpr = leftTime
    val rTimeExpr = rightTime
    val keyTypes = leftKeys.map(_.dataType)
    val timeType = leftTime.dataType
    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      if (!lIter.hasNext || !rIter.hasNext) Iterator.empty
      else new Iterator[InternalRow] {
        private val lKeyProj = UnsafeProjection.create(lKeyExprs, lOut)
        private val rKeyProj = UnsafeProjection.create(rKeyExprs, rOut)
        private val keyOrd = RowOrdering.createNaturalAscendingOrdering(keyTypes)
        private val lTimeBound = BindReferences.bindReference(lTimeExpr, lOut)
        private val rTimeBound = BindReferences.bindReference(rTimeExpr, rOut)
        private val timeOrd = TypeUtils.getInterpretedOrdering(timeType)
        private val joined = new JoinedRow
        // downstream consumers (incl. SparkPlan.getByteArrayRdd) expect
        // UnsafeRow — flatten the JoinedRow like SortMergeJoin does
        private val resultProj = UnsafeProjection.create(
          (lOut.map(_.dataType) ++ rOut.map(_.dataType)).toArray)

        // latest right row (and its key) with time <= the current left's —
        // copied out of the child iterator's reused buffers
        private var candKey: UnsafeRow = null
        private var candRow: InternalRow = null
        private var rRow: InternalRow = rIter.next()
        private var out: InternalRow = null

        /** Consume right rows while (key, time) <= (lKey, lTime); the last
          * consumed matching row becomes the candidate. Rows with key <
          * lKey can never match a later left (left is ascending) — dropped.
          */
        private def advance(lKey: UnsafeRow, lTime: Any): Unit = {
          var done = rRow == null
          while (!done) {
            val rk = rKeyProj(rRow)
            val c = keyOrd.compare(rk, lKey)
            if (c > 0) done = true
            else {
              val rt = if (c == 0) rTimeBound.eval(rRow) else null
              if (c == 0 && rt != null && timeOrd.gt(rt, lTime)) done = true
              else {
                if (c == 0 && rt != null) {
                  candKey = rk.copy()
                  candRow = rRow.copy()
                }
                rRow = if (rIter.hasNext) rIter.next() else null
                if (rRow == null) done = true
              }
            }
          }
        }

        private def computeNext(): Unit = {
          out = null
          while (out == null && lIter.hasNext) {
            val lRow = lIter.next()
            val lTime = lTimeBound.eval(lRow)
            if (lTime != null) {
              val lKey = lKeyProj(lRow)
              advance(lKey, lTime)
              if (candRow != null && keyOrd.compare(candKey, lKey) == 0) {
                out = resultProj(joined(lRow, candRow))
                numOutputRows += 1
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

object AsOfJoin {
  /** Idempotently attach the planner strategy to a running session. */
  private def register(spark: SparkSession): Unit =
    if (!spark.experimental.extraStrategies.contains(AsOfJoinStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ AsOfJoinStrategy

  /** Backward as-of join on single key/time columns (column names resolved
    * against each side; right-side names must not collide with left's —
    * alias before calling, which also guarantees distinct expression ids).
    */
  def backward(
      left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String,
      leftTimeCol: String, rightTimeCol: String,
      rightTie: Option[String] = None): DataFrame = {
    val spark = left.sparkSession
    register(spark)
    val lPlan = Bridge.analyzed(left)
    val rPlan = Bridge.analyzed(right)
    def res(p: LogicalPlan, n: String): Attribute =
      p.output.find(_.name == n).getOrElse(
        throw new IllegalArgumentException(
          s"asof: no column '$n' in [${p.output.map(_.name).mkString(", ")}]"))
    require(left.columns.toSet.intersect(right.columns.toSet).isEmpty,
      "asof: overlapping column names between sides — alias the right side")
    val node = AsOfJoinPlan(lPlan, rPlan,
      Seq(res(lPlan, leftKey)), Seq(res(rPlan, rightKey)),
      res(lPlan, leftTimeCol), res(rPlan, rightTimeCol),
      rightTie.map(res(rPlan, _)).toSeq)
    Bridge.ofRows(spark, node)
  }
}
