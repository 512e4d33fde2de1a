package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, BindReferences, Expression, GenericInternalRow, JoinedRow, SortOrder, Unevaluable, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, Join, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{BooleanType, DataType}

import graft.functions.Kernels

/** Native as-of join — the full custom-operator stack (SURVEY §7.5 tier c):
  * marker expression → logical node → optimizer rewrite → planner strategy
  * → physical operator, wired through PUBLIC hooks
  * (`functionRegistry` + `spark.experimental.extraOptimizations` /
  * `extraStrategies`, installed by [[graft.functions.Kernels]]).
  *
  * Semantics: for each left row, the single right row with the greatest
  * `rightTime <= leftTime` among rows sharing the equality key — ties on
  * time broken by the greatest `tieBreak` values (or, with no tieBreak,
  * the last row in (time, input-order) sort on the broadcast path).
  * Unmatched left rows keep null right columns (left-outer as-of).
  *
  * TWO physical strategies, chosen by `spark.graft.asof.strategy`:
  *  - `broadcast` ([[AsOfJoin.AsOfBroadcastExec]]): right side collected,
  *    grouped per key, time-sorted once, broadcast; each left partition
  *    binary-searches per row. Never materializes the per-key fan-out
  *    (|events| × |orders-per-user| rows) of the compositional plan.
  *    Build-side-must-fit is the standard broadcast-join contract.
  *  - `sortmerge` ([[AsOfJoin.AsOfSortMergeExec]]): BOTH sides hash-
  *    partitioned by key and sorted by (key, time[, tieBreak…]) —
  *    EnsureRequirements inserts the exchanges/sorts — then one streaming
  *    merge pass per co-partition. No build-side size limit: the 100 TB
  *    path when the right side is large.
  *  - `auto` (default): broadcast when the right side's plan statistics
  *    fit `spark.sql.autoBroadcastJoinThreshold`, else sortmerge — the
  *    same contract Spark's own join selection applies.
  */
object AsOfJoin {

  val StrategyConfKey = "spark.graft.asof.strategy"

  /** Row cap for the pinned-broadcast build side (default 5M) — over it,
    * [[AsOfBroadcastExec]] fails fast with a pointer at
    * `strategy=sortmerge` instead of OOMing the driver.
    */
  val BroadcastMaxRowsKey = "spark.graft.asof.broadcastMaxRows"

  /** Boolean marker that carries the as-of spec through analysis inside an
    * ordinary join condition; rewritten before planning, never evaluated.
    * children = leftKey, rightKey, leftTime, rightTime, modeLiteral,
    * tieBreak… — the strategy mode rides IN the plan (not session conf) so
    * a built DataFrame keeps its requested exec regardless of when the
    * action runs or what other joins set afterwards.
    *
    * The mode literal is `strategy` or `strategy:direction` — a bare
    * `'sortmerge'` (the original SQL spelling) still parses, direction
    * defaulting to backward.
    */
  case class AsOfMarker(children: Seq[Expression])
      extends Expression with Unevaluable {
    def leftKey: Expression = children(0)
    def rightKey: Expression = children(1)
    def leftTime: Expression = children(2)
    def rightTime: Expression = children(3)
    private def rawMode: String = children(4) match {
      case org.apache.spark.sql.catalyst.expressions.Literal(v, _) if v != null =>
        v.toString
      case _ => "auto"
    }
    def mode: String = rawMode.split(':')(0)
    def direction: String = rawMode.split(':') match {
      case Array(_, d) => d
      case _           => "backward"
    }
    def tieBreak: Seq[Expression] = children.drop(5)
    override def dataType: DataType = BooleanType
    override def nullable: Boolean = false
    override def prettyName: String = "asof_marker"
    override protected def withNewChildrenInternal(
        newChildren: IndexedSeq[Expression]): Expression =
      copy(children = newChildren)
  }

  case class AsOfJoinPlan(left: LogicalPlan, right: LogicalPlan,
      leftKey: Expression, rightKey: Expression,
      leftTime: Expression, rightTime: Expression,
      tieBreak: Seq[Expression], mode: String = "auto",
      direction: String = "backward") extends BinaryNode {
    override def output: Seq[Attribute] =
      left.output ++ right.output.map(_.withNullability(true))
    override protected def withNewChildrenInternal(
        newLeft: LogicalPlan, newRight: LogicalPlan): LogicalPlan =
      copy(left = newLeft, right = newRight)
  }

  /** Join(condition = asof_marker(...)) → AsOfJoinPlan. */
  object RewriteAsOfJoin extends Rule[LogicalPlan] {
    override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
      case Join(l, r, _, Some(m: AsOfMarker), _) =>
        AsOfJoinPlan(l, r, m.leftKey, m.rightKey, m.leftTime, m.rightTime,
          m.tieBreak, m.mode, m.direction)
    }
  }

  object AsOfJoinStrategy extends org.apache.spark.sql.execution.SparkStrategy {
    override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
      case p @ AsOfJoinPlan(l, r, lk, rk, lt, rt, tb, planMode, dir) =>
        val conf = SQLConf.get
        // per-join mode wins; "auto" falls through to the session conf,
        // then to the broadcast-threshold statistics decision
        val mode =
          if (planMode != "auto") planMode
          else conf.getConfString(StrategyConfKey, "auto")
        val fits = r.stats.sizeInBytes >= 0 &&
          r.stats.sizeInBytes <= conf.autoBroadcastJoinThreshold
        val exec =
          if (mode == "broadcast" || (mode == "auto" && fits))
            AsOfBroadcastExec(planLater(l), planLater(r), lk, rk, lt, rt, tb, dir)
          else
            AsOfSortMergeExec(planLater(l), planLater(r), lk, rk, lt, rt, tb, dir)
        exec :: Nil
      case _ => Nil
    }
  }

  /** timestamps evaluate to java Long micros; accept numeric longs too. */
  private[plans] def toMicros(v: Any): Long = v match {
    case null    => Long.MinValue
    case l: Long => l
    case i: Int  => i.toLong
    case _       => Long.MinValue
  }

  /** greatest index with times(i) <= t, or -1. */
  private[plans] def lastLeq(times: Array[Long], t: Long): Int = {
    var lo = 0
    var hi = times.length - 1
    var ans = -1
    while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      if (times(mid) <= t) { ans = mid; lo = mid + 1 }
      else hi = mid - 1
    }
    ans
  }

  /** smallest index with times(i) >= t extended to the END of its
    * equal-time run, or -1. The array is sorted (time, tieBreak) ascending,
    * so the run's last row carries the greatest tieBreak — "greatest
    * tieBreak wins" stays uniform across directions.
    */
  private[plans] def firstGeqRunEnd(times: Array[Long], t: Long): Int = {
    var lo = 0
    var hi = times.length - 1
    var ans = -1
    while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      if (times(mid) >= t) { ans = mid; hi = mid - 1 }
      else lo = mid + 1
    }
    if (ans >= 0) {
      while (ans + 1 < times.length && times(ans + 1) == times(ans)) ans += 1
    }
    ans
  }

  /** pick between backward candidate b and forward candidate f for
    * direction `dir`; equal |Δt| prefers backward (documented contract).
    */
  private[plans] def pick(dir: String, b: Int, f: Int,
      times: Array[Long], t: Long): Int = dir match {
    case "forward" => f
    case "nearest" =>
      if (b < 0) f
      else if (f < 0) b
      else if (t - times(b) <= times(f) - t) b
      else f
    case _ => b
  }

  case class AsOfBroadcastExec(left: SparkPlan, right: SparkPlan,
      leftKey: Expression, rightKey: Expression,
      leftTime: Expression, rightTime: Expression,
      tieBreak: Seq[Expression],
      direction: String = "backward") extends BinaryExecNode {

    override def output: Seq[Attribute] =
      left.output ++ right.output.map(_.withNullability(true))

    override protected def withNewChildrenInternal(
        newLeft: SparkPlan, newRight: SparkPlan): SparkPlan =
      copy(left = newLeft, right = newRight)

    override protected def doExecute(): RDD[InternalRow] = {
      // the pinned-broadcast contract is build-side-must-fit (the sf1
      // rehearsal measured it growing 14.8x at 10x data): cap it with an
      // actionable error instead of letting the driver OOM silently.
      // executeTake(cap + 1) never holds more than cap+1 rows.
      val cap = java.lang.Long.parseLong(org.apache.spark.sql.internal
        .SQLConf.get.getConfString(BroadcastMaxRowsKey, "5000000"))
      require(cap > 0, s"$BroadcastMaxRowsKey must be positive")
      val capped = math.min(cap, Int.MaxValue - 2L).toInt
      val rightRows = right.executeTake(capped + 1) // copied rows
      if (rightRows.length > capped) throw new IllegalStateException(
        s"as-of broadcast build side exceeds $capped rows — broadcast " +
          s"collects the whole right side to the driver. Use " +
          s"strategy=sortmerge for a build side this large, or raise " +
          s"$BroadcastMaxRowsKey.")
      val boundRk = BindReferences.bindReference(rightKey, right.output)
      val boundRt = BindReferences.bindReference(rightTime, right.output)
      val boundTb = tieBreak.map(BindReferences.bindReference(_, right.output))
      val tbOrds = boundTb.map(e => TypeUtils.getInterpretedOrdering(e.dataType))
      // per key: rows sorted ascending by (time, tieBreak…, collect order);
      // stable sort keeps input order among full ties
      val buildMap: Map[Any, (Array[Long], Array[InternalRow])] =
        rightRows.toSeq
          .map(r => (boundRk.eval(r), toMicros(boundRt.eval(r)), r,
            boundTb.map(_.eval(r))))
          .filter(t => t._1 != null && t._2 != Long.MinValue)
          .groupBy(_._1)
          .map { case (k, rows) =>
            val sorted = rows.sortWith { (a, b) =>
              if (a._2 != b._2) a._2 < b._2
              else {
                var i = 0
                var cmp = 0
                while (cmp == 0 && i < tbOrds.length) {
                  val av = a._4(i); val bv = b._4(i)
                  // nulls first, matching the sortmerge path's
                  // SortOrder(Ascending) default — so "last wins" means a
                  // null tieBreak loses to any non-null
                  cmp =
                    if (av == null && bv == null) 0
                    else if (av == null) -1
                    else if (bv == null) 1
                    else tbOrds(i).compare(av, bv)
                  i += 1
                }
                cmp < 0
              }
            }
            (k, (sorted.map(_._2).toArray, sorted.map(_._3).toArray[InternalRow]))
          }
      val bc = sparkContext.broadcast(buildMap)
      val rightWidth = right.output.size
      val leftOut = left.output
      val lk = leftKey
      val lt = leftTime
      val allOut = output
      val dir = direction

      left.execute().mapPartitions { iter =>
        val map = bc.value
        val boundLk = BindReferences.bindReference(lk, leftOut)
        val boundLt = BindReferences.bindReference(lt, leftOut)
        val nullRight = new GenericInternalRow(rightWidth)
        val joined = new JoinedRow
        val project = UnsafeProjection.create(allOut, allOut)
        iter.map { lrow =>
          val key = boundLk.eval(lrow)
          val t = toMicros(boundLt.eval(lrow))
          val matched: InternalRow =
            if (key == null || t == Long.MinValue) nullRight
            else map.get(key) match {
              case Some((times, rows)) =>
                val b = if (dir == "forward") -1 else lastLeq(times, t)
                val f = if (dir == "backward") -1 else firstGeqRunEnd(times, t)
                val idx = pick(dir, b, f, times, t)
                if (idx >= 0) rows(idx) else nullRight
              case None => nullRight
            }
          project(joined(lrow, matched))
        }
      }
    }
  }

  /** Shuffle/sort as-of: both sides clustered by key and sorted by
    * (key, time[, tieBreak…]); one forward-only merge pass per
    * co-partition. Because left rows arrive time-ascending within a key,
    * the right cursor only ever advances — each right row is visited
    * once. Per direction:
    *  - backward: `lastMatch` holds the best (greatest (time, tieBreak)
    *    ≤ t) row seen for the current key;
    *  - forward: rows with time < t are skipped and the cursor row (first
    *    time ≥ t) is the match WITHOUT being consumed — tieBreak is sorted
    *    DESCENDING on this path so the first row of an equal-time run is
    *    the greatest-tieBreak winner;
    *  - nearest: backward's consume loop plus a one-row-lookahead run
    *    extension for the forward candidate; equal |Δt| prefers backward.
    * No build-side size limit on any path.
    */
  case class AsOfSortMergeExec(left: SparkPlan, right: SparkPlan,
      leftKey: Expression, rightKey: Expression,
      leftTime: Expression, rightTime: Expression,
      tieBreak: Seq[Expression],
      direction: String = "backward") extends BinaryExecNode {

    override def output: Seq[Attribute] =
      left.output ++ right.output.map(_.withNullability(true))

    override def requiredChildDistribution: Seq[Distribution] =
      ClusteredDistribution(Seq(leftKey)) ::
        ClusteredDistribution(Seq(rightKey)) :: Nil

    override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
      Seq(SortOrder(leftKey, Ascending), SortOrder(leftTime, Ascending)),
      Seq(SortOrder(rightKey, Ascending), SortOrder(rightTime, Ascending)) ++
        tieBreak.map(SortOrder(_,
          if (direction == "forward")
            org.apache.spark.sql.catalyst.expressions.Descending
          else Ascending)))

    override def outputPartitioning: Partitioning = left.outputPartitioning

    override def outputOrdering: Seq[SortOrder] = left.outputOrdering

    override protected def withNewChildrenInternal(
        newLeft: SparkPlan, newRight: SparkPlan): SparkPlan =
      copy(left = newLeft, right = newRight)

    override protected def doExecute(): RDD[InternalRow] = {
      val leftOut = left.output
      val rightOut = right.output
      val lk = leftKey; val rk = rightKey
      val lt = leftTime; val rt = rightTime
      val allOut = output
      val rightWidth = rightOut.size
      val keyOrd = TypeUtils.getInterpretedOrdering(leftKey.dataType)

      val dir = direction
      left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
        val boundLk = BindReferences.bindReference(lk, leftOut)
        val boundLt = BindReferences.bindReference(lt, leftOut)
        val boundRk = BindReferences.bindReference(rk, rightOut)
        val boundRt = BindReferences.bindReference(rt, rightOut)
        val nullRight = new GenericInternalRow(rightWidth)
        val joined = new JoinedRow
        val project = UnsafeProjection.create(allOut, allOut)

        // right cursor with one-row lookahead (rows copied: shuffle
        // iterators reuse row objects; null-keyed / null-timed right rows
        // can never match — skipped at fetch)
        var rRow: InternalRow = null
        var rKey: Any = null
        var rTime: Long = Long.MinValue
        var nRow: InternalRow = null
        var nKey: Any = null
        var nTime: Long = Long.MinValue
        def fetchNext(): Unit = {
          nRow = null
          while (nRow == null && rIter.hasNext) {
            val row = rIter.next()
            val k = boundRk.eval(row)
            val t = toMicros(boundRt.eval(row))
            if (k != null && t != Long.MinValue) {
              nRow = row.copy()
              nKey = InternalRow.copyValue(k)
              nTime = t
            }
          }
          if (nRow == null) { nKey = null; nTime = Long.MinValue }
        }
        def advanceRight(): Unit = {
          rRow = nRow; rKey = nKey; rTime = nTime
          if (rRow != null) fetchNext()
        }
        fetchNext()
        advanceRight()

        var haveKey = false
        var curKey: Any = null
        var lastMatch: InternalRow = null
        var lastMatchTime = Long.MinValue

        lIter.map { lrow =>
          val k = boundLk.eval(lrow)
          val t = toMicros(boundLt.eval(lrow))
          val matched: InternalRow =
            if (k == null || t == Long.MinValue) nullRight
            else {
              if (!haveKey || keyOrd.compare(curKey, k) != 0) {
                curKey = InternalRow.copyValue(k)
                haveKey = true
                lastMatch = null
                lastMatchTime = Long.MinValue
                while (rRow != null && keyOrd.compare(rKey, curKey) < 0)
                  advanceRight()
              }
              if (dir == "forward") {
                // skip strictly-earlier rows; never needed again since left
                // times ascend within the key
                while (rRow != null && keyOrd.compare(rKey, curKey) == 0 &&
                    rTime < t)
                  advanceRight()
                if (rRow != null && keyOrd.compare(rKey, curKey) == 0) rRow
                else nullRight
              } else {
                while (rRow != null && keyOrd.compare(rKey, curKey) == 0 &&
                    rTime <= t) {
                  lastMatch = rRow
                  lastMatchTime = rTime
                  advanceRight()
                }
                if (dir == "nearest") {
                  // forward candidate: cursor row extended to the END of its
                  // equal-time run (greatest tieBreak under asc ordering);
                  // consumed run-prefix rows lose every future comparison to
                  // the row we stop on, so skipping them is safe
                  if (rRow != null && keyOrd.compare(rKey, curKey) == 0) {
                    while (nRow != null && nTime == rTime &&
                        keyOrd.compare(nKey, curKey) == 0)
                      advanceRight()
                    val fwdBeats = lastMatch == null ||
                      (rTime - t) < (t - lastMatchTime)
                    if (fwdBeats) rRow
                    else lastMatch
                  } else if (lastMatch != null) lastMatch
                  else nullRight
                } else if (lastMatch != null) lastMatch
                else nullRight
              }
            }
          project(joined(lrow, matched))
        }
      }
    }
  }

  /** The `asof_marker` kernel; [[Kernels.register]] installs
    * [[RewriteAsOfJoin]] and [[AsOfJoinStrategy]] alongside it.
    */
  private[graft] val kernels: Seq[(String, Kernels.Builder)] =
    Seq("asof_marker" -> (e => AsOfMarker(e)))

  /** left-outer as-of join: the `right` row per key nearest the left
    * row's time in the requested `direction` —
    *  - "backward" (default): greatest rightTime <= leftTime;
    *  - "forward": smallest rightTime >= leftTime;
    *  - "nearest": smaller |rightTime - leftTime|, ties → backward.
    * `rightTieBreak` (greatest wins, nulls lose — in every direction)
    * makes equal-time picks deterministic. `strategy`
    * ("auto" | "broadcast" | "sortmerge") pins the physical exec for THIS
    * join — it travels in the plan, so it holds no matter when the action
    * runs; "auto" defers to the `spark.graft.asof.strategy` conf and then
    * to broadcast-threshold statistics.
    */
  def asofJoin(left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String,
      leftTime: String, rightTime: String,
      rightTieBreak: Seq[Column] = Nil,
      strategy: String = "auto",
      direction: String = "backward"): DataFrame = {
    require(Set("auto", "broadcast", "sortmerge")(strategy),
      s"unknown strategy: $strategy")
    require(Set("backward", "forward", "nearest")(direction),
      s"unknown direction: $direction")
    // the join resolves in the left side's session, which need not be
    // the active one
    Kernels.register(left.sparkSession)
    left.join(right,
      Kernels.call("asof_marker",
        Seq(left(leftKey), right(rightKey), left(leftTime), right(rightTime),
          org.apache.spark.sql.functions.lit(s"$strategy:$direction"))
          ++ rightTieBreak: _*),
      "left")
  }
}
