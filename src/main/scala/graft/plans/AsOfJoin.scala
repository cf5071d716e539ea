package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, AttributeReference, AttributeSet, GenericInternalRow, JoinedRow, RowOrdering, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.LongType

/** AS-OF JOIN as a first-class Catalyst operator — the (c)-tier custom
  * path: a logical node, a planner strategy, and a physical exec with
  * declared distribution + ordering requirements.
  *
  * Semantics, per left row with key tuple k and time t:
  *  - direction = backward (default): append the greatest right `time`
  *    of the same key with rTime <= t (NULL if none) — "join each fact
  *    to the latest earlier state".
  *  - direction = forward: the smallest right `time` with rTime >= t.
  *  - RANGE ties: equal times count as a match in both directions, and
  *    ANY same-time right row matches regardless of arrival order (a
  *    RANGE frame over time, not a ROWS frame — callers who need a
  *    same-time tiebreak should pre-filter the right side).
  *  - tolerance (optional, LongType time only): a match further than
  *    `tolerance` from t yields NULL instead — pandas merge_asof
  *    semantics: the nearest match is bounded, not replaced by an
  *    older one. The distance is exact over the whole long range.
  *  - NULL keys: a row with a NULL time or ANY NULL key component
  *    never matches, and a right row of that kind is skipped.
  *  - copy rule: the merge compares each side's (keys…, time) as one
  *    projected UnsafeRow; the projection reuses its buffer on every
  *    row, so the right row the backward merge keeps is a `copy()`.
  * Keys are COMPOSITE (one or more columns — (user, device), (symbol,
  * venue)) and, like the time, may be ANY orderable atomic type.
  *
  * Why a custom operator instead of the window-function composition
  * (queries.Events.q_asof_join): the window form must interleave BOTH
  * sides into one partition-ordered stream, so the whole union is
  * shuffled AND sorted together and the right side's columns ride
  * through the window state. This exec declares
  * `ClusteredDistribution(keys)` per child and per-child (keys…, time)
  * ordering, so Catalyst's EnsureRequirements plans ONE exchange +
  * sort per side (exactly what a sort-merge join gets), and the merge
  * itself is a single forward pass holding O(1) state — no window
  * buffer, no unioned row-shape padding. At 100 TB the win is the
  * smaller shuffle payload (each side keeps its own narrow schema)
  * and the O(1) state per key instead of a window frame.
  */
case class AsOfJoinNode(
    left: LogicalPlan, right: LogicalPlan,
    leftKeys: Seq[Attribute], leftTime: Attribute,
    rightKeys: Seq[Attribute], rightTime: Attribute,
    forward: Boolean, tolerance: Option[Long],
    asofOut: AttributeReference) extends BinaryNode {
  override def output: Seq[Attribute] = left.output :+ asofOut
  // asofOut is minted BY this node, not read from a child
  override def producedAttributes: AttributeSet = AttributeSet(asofOut)
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoinNode =
    copy(left = newLeft, right = newRight)
}

object AsOfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoinNode(l, r, lk, lt, rk, rt, fwd, tol, out) =>
      AsOfJoinExec(lk, lt, rk, rt, fwd, tol, out, planLater(l), planLater(r)) :: Nil
    case _ => Nil
  }
}

case class AsOfJoinExec(
    leftKeys: Seq[Attribute], leftTime: Attribute,
    rightKeys: Seq[Attribute], rightTime: Attribute,
    forward: Boolean, tolerance: Option[Long],
    asofOut: Attribute,
    left: SparkPlan, right: SparkPlan) extends BinaryExecNode {

  override def output: Seq[Attribute] = left.output :+ asofOut
  override def producedAttributes: AttributeSet = AttributeSet(asofOut)

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"),
    "numMatched" -> SQLMetrics.createMetric(sparkContext, "number of matched rows"))

  /** Both children clustered by the key tuple — EnsureRequirements
    * inserts one co-partitioned exchange per side, same as a shuffle
    * join. */
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(leftKeys) :: ClusteredDistribution(rightKeys) :: Nil

  /** (keys…, time) ascending per child — the merge is then a single
    * forward pass. */
  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    Seq(leftKeys.map(SortOrder(_, Ascending)) :+ SortOrder(leftTime, Ascending),
        rightKeys.map(SortOrder(_, Ascending)) :+ SortOrder(rightTime, Ascending))

  override def outputPartitioning: Partitioning = left.outputPartitioning
  override def outputOrdering: Seq[SortOrder] =
    leftKeys.map(SortOrder(_, Ascending)) :+ SortOrder(leftTime, Ascending)

  /** The one merge, for every key arity and orderable type: projected
    * (keys…, time) rows compared in the children's sort order, as
    * SortMergeJoinExec's scanner compares its key rows. */
  protected override def doExecute(): RDD[InternalRow] = {
    val nk = leftKeys.length
    val timeType = leftTime.dataType
    val fwd = forward
    val tol = tolerance
    val numOutputRows = longMetric("numOutputRows")
    val numMatched = longMetric("numMatched")
    left.execute().zipPartitions(right.execute(), preservesPartitioning = true) {
      (lIter, rIter) =>
        val lProj = UnsafeProjection.create(leftKeys :+ leftTime, left.output)
        val rProj = UnsafeProjection.create(rightKeys :+ rightTime, right.output)
        // (keys…, time) order of the sorted children, and (keys…) alone
        val ord = RowOrdering.createNaturalAscendingOrdering(leftKeys.map(_.dataType) :+ timeType)
        val keyOrd = RowOrdering.createNaturalAscendingOrdering(leftKeys.map(_.dataType))
        val proj = UnsafeProjection.create(output, output)
        val joined = new JoinedRow
        val matchRow = new GenericInternalRow(1)
        // lookahead: the next right row with no NULL key or time, null
        // once the side is exhausted
        var r: UnsafeRow = null
        // backward only: the last right row the merge moved past
        var last: UnsafeRow = null
        def pullRight(): Unit = {
          r = null
          while (r == null && rIter.hasNext) {
            val p = rProj(rIter.next())
            if (!p.anyNull) r = p
          }
        }
        // The true distance is non-negative in either direction, so the
        // wrapped long difference read unsigned is exact.
        def withinTol(hit: UnsafeRow, l: UnsafeRow): Boolean = tol.forall { t =>
          val diff = if (fwd) hit.getLong(nk) - l.getLong(nk) else l.getLong(nk) - hit.getLong(nk)
          java.lang.Long.compareUnsigned(diff, t) <= 0
        }
        pullRight()
        lIter.map { lRow =>
          val l = lProj(lRow)
          val hit =
            if (l.anyNull) null
            else if (fwd) {
              while (r != null && ord.compare(r, l) < 0) pullRight()
              r
            } else {
              while (r != null && ord.compare(r, l) <= 0) { last = r.copy(); pullRight() }
              last
            }
          if (hit != null && keyOrd.compare(hit, l) == 0 && withinTol(hit, l)) {
            numMatched += 1; matchRow.update(0, hit.get(nk, timeType))
          } else matchRow.setNullAt(0)
          numOutputRows += 1
          proj(joined(lRow, matchRow))
        }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)
}

object AsOfJoin {
  /** Left as-of join keyed on one OR MORE columns per side ((user,
    * device), (symbol, venue) …): `left`'s rows plus column `outCol`
    * = the nearest same-keyed right `rightTimeCol` at-or-before
    * (backward, default) or at-or-after (forward) `leftTimeCol`, NULL
    * if none (or if the nearest match exceeds `tolerance`, LongType
    * times only). Key columns pair up positionally and may mix types;
    * key and time columns may be any orderable atomic type. */
  def asofMulti(leftDf: DataFrame, rightDf: DataFrame,
                leftKeyCols: Seq[String], leftTimeCol: String,
                rightKeyCols: Seq[String], rightTimeCol: String,
                outCol: String = "asof_time",
                direction: String = "backward",
                tolerance: Option[Long] = None): DataFrame = {
    require(direction == "backward" || direction == "forward",
      s"direction must be 'backward' or 'forward', got '$direction'")
    require(leftKeyCols.nonEmpty, "at least one key column is required")
    require(leftKeyCols.length == rightKeyCols.length,
      s"key column counts differ: ${leftKeyCols.length} vs ${rightKeyCols.length}")
    val spark = leftDf.sparkSession
    Bridge.addStrategy(spark, AsOfJoinStrategy)
    val lPlan = Bridge.analyzed(leftDf)
    val rPlan = Bridge.analyzed(rightDf)
    def attr(p: LogicalPlan, n: String, side: String): Attribute = {
      val a = p.output.find(_.name == n).getOrElse(
        throw new IllegalArgumentException(s"$side column '$n' not found in ${p.output.map(_.name)}"))
      require(RowOrdering.isOrderable(a.dataType),
        s"$side column '$n' has unorderable type ${a.dataType}")
      a
    }
    val lks = leftKeyCols.map(attr(lPlan, _, "left"))
    val rks = rightKeyCols.map(attr(rPlan, _, "right"))
    val lt = attr(lPlan, leftTimeCol, "left")
    val rt = attr(rPlan, rightTimeCol, "right")
    lks.zip(rks).foreach { case (lk, rk) =>
      require(lk.dataType == rk.dataType,
        s"key types differ for (${lk.name}, ${rk.name}): ${lk.dataType} vs ${rk.dataType}")
    }
    require(lt.dataType == rt.dataType,
      s"time types differ: ${lt.dataType} vs ${rt.dataType}")
    require(tolerance.isEmpty || lt.dataType == LongType,
      s"tolerance requires LongType times, got ${lt.dataType}")
    require(tolerance.forall(_ >= 0), "tolerance must be non-negative")
    val node = AsOfJoinNode(lPlan, rPlan, lks, lt, rks, rt,
      direction == "forward", tolerance,
      AttributeReference(outCol, lt.dataType, nullable = true)())
    Bridge.ofRows(spark, node)
  }
}
