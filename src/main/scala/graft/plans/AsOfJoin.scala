package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, JoinedRow, SortOrder}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{Distribution, StatefulOpClusteredDistribution}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan}
import org.apache.spark.sql.classic.Strategy

/** Plan-level as-of join (SURVEY.md §2.3 q_join_asof, §7.3): the one
  * operator in the inventory Spark genuinely lacks, implemented
  * through the full custom-operator stack — logical node → planner
  * Strategy → physical BinaryExecNode — per the extension preference
  * order (compose < Expression < LogicalPlan+Strategy).
  *
  * Semantics: for each left row, the right row with the same key and
  * — direction backward (default) — the greatest ts ≤ left.ts, or
  * — direction forward — the smallest ts ≥ left.ts;
  * unmatched left rows drop (inner) or null-extend (leftOuter) — the
  * time-series lookup implied by the reference's keyed weather table
  * (weather-etl.py:76), in the four modes of DuckDB ASOF [LEFT] JOIN /
  * pandas merge_asof.
  *
  * Physical algorithm: both sides hash-clustered by key and sorted by
  * (key, ts) — Spark's EnsureRequirements inserts the exchanges/sorts
  * — then a single streaming merge per co-partition pair: O(n+m),
  * ZERO buffering beyond one right row, no range blow-up. This is the
  * shape that survives 100 TB: one shuffle each side, linear merge,
  * no per-key state growth. (The composite union+window form in
  * queries.Joins is the portable fallback; the spec asserts both
  * produce identical results.)
  *
  * Keys may be any orderable atomic type (compared through the
  * type's interpreted ordering); timestamps must be TimestampType /
  * LongType (micros).
  */
case class AsOfJoin(
    left: LogicalPlan, right: LogicalPlan,
    leftKey: Attribute, leftTs: Attribute,
    rightKey: Attribute, rightTs: Attribute,
    toleranceUs: Option[Long],
    forward: Boolean = false,
    leftOuter: Boolean = false) extends BinaryNode {

  override def output: Seq[Attribute] =
    if (leftOuter) left.output ++ right.output.map(_.withNullability(true))
    else left.output ++ right.output

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoin =
    copy(left = newLeft, right = newRight)
}

case class AsOfJoinExec(
    left: SparkPlan, right: SparkPlan,
    leftKey: Attribute, leftTs: Attribute,
    rightKey: Attribute, rightTs: Attribute,
    toleranceUs: Option[Long],
    forward: Boolean = false,
    leftOuter: Boolean = false) extends BinaryExecNode {

  override def output: Seq[Attribute] =
    if (leftOuter) left.output ++ right.output.map(_.withNullability(true))
    else left.output ++ right.output

  // StatefulOpClusteredDistribution: demands EXACT HashPartitioning
  // on the key with an exact partition count on BOTH sides. Plain
  // ClusteredDistribution is satisfied by e.g. RangePartitioning of a
  // pre-sorted child, which would pair zipPartitions misaligned with
  // the other side's hash partitions and silently drop matches; it
  // also stops AQE coalescing the two sides differently.
  override def requiredChildDistribution: Seq[Distribution] = {
    val n = conf.numShufflePartitions
    StatefulOpClusteredDistribution(Seq(leftKey), n) ::
      StatefulOpClusteredDistribution(Seq(rightKey), n) :: Nil
  }

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    Seq(SortOrder(leftKey, Ascending), SortOrder(leftTs, Ascending)),
    Seq(SortOrder(rightKey, Ascending), SortOrder(rightTs, Ascending)))

  override def outputOrdering: Seq[SortOrder] =
    Seq(SortOrder(leftKey, Ascending), SortOrder(leftTs, Ascending))

  override protected def doExecute(): RDD[InternalRow] = {
    val lKeyIdx = left.output.indexWhere(_.exprId == leftKey.exprId)
    val lTsIdx = left.output.indexWhere(_.exprId == leftTs.exprId)
    val rKeyIdx = right.output.indexWhere(_.exprId == rightKey.exprId)
    val rTsIdx = right.output.indexWhere(_.exprId == rightTs.exprId)
    require(lKeyIdx >= 0 && lTsIdx >= 0 && rKeyIdx >= 0 && rTsIdx >= 0)
    require(leftKey.dataType == rightKey.dataType,
      s"as-of key types differ: ${leftKey.dataType} vs ${rightKey.dataType}")
    Seq(leftTs, rightTs).foreach { ts =>
      require(ts.dataType == org.apache.spark.sql.types.TimestampType ||
        ts.dataType == org.apache.spark.sql.types.LongType,
        s"as-of ts column ${ts.name} must be TIMESTAMP or BIGINT, got ${ts.dataType}")
    }
    val keyType = leftKey.dataType
    val keyOrd = org.apache.spark.sql.catalyst.util.TypeUtils
      .getInterpretedOrdering(keyType)

    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      new Iterator[InternalRow] {
        private val joined = new JoinedRow
        private val rBuf = rIter.buffered
        // backward: last right row matching the current left key with ts <= left.ts
        private var held: InternalRow = _
        private var heldKey: Any = _
        private var heldTs = 0L
        private var out: InternalRow = _
        private val tol = toleranceUs.getOrElse(Long.MaxValue)
        private val nullRight =
          new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(right.output.size)

        private def emit(l: InternalRow, r: InternalRow): Unit =
          if (r != null) out = joined(l, r)
          else if (leftOuter) out = joined(l, nullRight)

        private def advance(): Unit = {
          out = null
          while (out == null && lIter.hasNext) {
            val l = lIter.next()
            if (l.isNullAt(lKeyIdx) || l.isNullAt(lTsIdx)) emit(l, null)
            else {
              val lk = l.get(lKeyIdx, keyType)
              val lt = l.getLong(lTsIdx)
              if (!forward) {
                // consume right rows up to (lk, lt]; hold the last same-key one
                var go = true
                while (go && rBuf.hasNext) {
                  val r = rBuf.head
                  if (r.isNullAt(rKeyIdx) || r.isNullAt(rTsIdx)) { rBuf.next(); go = true }
                  else {
                    val cmp = keyOrd.compare(r.get(rKeyIdx, keyType), lk)
                    if (cmp < 0 || (cmp == 0 && r.getLong(rTsIdx) <= lt)) {
                      val consumed = rBuf.next()
                      if (cmp == 0) {
                        heldTs = consumed.getLong(rTsIdx)
                        held = consumed.copy()
                        heldKey = held.get(rKeyIdx, keyType) // from the copy
                      }
                    } else go = false
                  }
                }
                val ok = held != null && keyOrd.compare(heldKey, lk) == 0 && lt - heldTs <= tol
                emit(l, if (ok) held else null)
              } else {
                // forward: discard right rows strictly before (lk, lt); the
                // head (not consumed — later left rows may share it) is the
                // candidate first-at-or-after match
                var go = true
                while (go && rBuf.hasNext) {
                  val r = rBuf.head
                  if (r.isNullAt(rKeyIdx) || r.isNullAt(rTsIdx)) { rBuf.next(); go = true }
                  else {
                    val cmp = keyOrd.compare(r.get(rKeyIdx, keyType), lk)
                    if (cmp < 0 || (cmp == 0 && r.getLong(rTsIdx) < lt)) { rBuf.next(); go = true }
                    else go = false
                  }
                }
                var cand: InternalRow = null
                if (rBuf.hasNext) {
                  val r = rBuf.head
                  if (!r.isNullAt(rKeyIdx) && !r.isNullAt(rTsIdx) &&
                      keyOrd.compare(r.get(rKeyIdx, keyType), lk) == 0 &&
                      r.getLong(rTsIdx) - lt <= tol) cand = r
                }
                emit(l, cand)
              }
            }
          }
        }

        override def hasNext: Boolean = { if (out == null) advance(); out != null }
        override def next(): InternalRow = {
          if (out == null) advance()
          val r = out; out = null; r
        }
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)
}

object AsOfStrategy extends Strategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoin(l, r, lk, lt, rk, rt, tol, fwd, outer) =>
      AsOfJoinExec(planLater(l), planLater(r), lk, lt, rk, rt, tol, fwd, outer) :: Nil
    case _ => Nil
  }
}

/** Public API: plan-level as-of join of two DataFrames, planned by
  * [[AsOfStrategy]], which [[graft.GraftSparkExtensions]] injects. */
object AsOf {
  /** As-of join: rows of `left` matched with the latest `right` row
    * per key at-or-before the left timestamp (direction "backward",
    * default) or the earliest at-or-after ("forward"). Right columns
    * must be pre-renamed to avoid collisions.
    *
    * @param within optional max distance: a right row further than
    *        this from the left timestamp does not match.
    * @param direction "backward" | "forward".
    * @param leftOuter keep unmatched left rows, null-extended (the
    *        ASOF LEFT JOIN / merge_asof default shape).
    */
  def join(spark: SparkSession, left: DataFrame, right: DataFrame,
      leftKey: String, leftTs: String,
      rightKey: String, rightTs: String,
      within: Option[java.time.Duration] = None,
      direction: String = "backward",
      leftOuter: Boolean = false): DataFrame = {
    require(direction == "backward" || direction == "forward",
      s"as-of direction must be backward|forward, got $direction")
    val lPlan = left.queryExecution.analyzed
    val rPlan = right.queryExecution.analyzed
    def attr(p: LogicalPlan, name: String): Attribute =
      p.output.find(_.name == name).getOrElse(
        throw new IllegalArgumentException(s"no column $name in ${p.output.map(_.name)}"))
    org.apache.spark.sql.graft.Shim.ofRows(spark,
      AsOfJoin(lPlan, rPlan,
        attr(lPlan, leftKey), attr(lPlan, leftTs),
        attr(rPlan, rightKey), attr(rPlan, rightTs),
        within.map(d => d.toNanos / 1000L),
        forward = direction == "forward",
        leftOuter = leftOuter))
  }
}
