package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{RangeJoin, TimeSeries}

/** As-of/time-series family: queries built on the native as-of join
  * ([[graft.plans.AsOfJoin]]), the binned range join
  * ([[graft.operators.RangeJoin]]) and calendar gap-fill
  * ([[graft.operators.TimeSeries]]).
  */
object TimeSeriesQueries {

  /** NATIVE as-of join through the custom-operator stack (marker →
    * optimizer rewrite → AsOfJoinStrategy → physical exec). Same oracle
    * as the compositional q23 — the custom physical operator itself is
    * DuckDB-verified. This query FORCES the sort-merge exec (the no-
    * build-side-limit 100 TB path); q50 forces the broadcast exec — both
    * physical paths run against the same oracle every round.
    */
  def q48_asof_native(s: SparkSession, dir: String): DataFrame =
    asofNative(s, dir, "sortmerge")

  /** Broadcast-exec twin of q48 (same oracle). */
  def q50_asof_broadcast(s: SparkSession, dir: String): DataFrame =
    asofNative(s, dir, "broadcast")

  private def asofNative(s: SparkSession, dir: String, mode: String): DataFrame = {
    val e = Tables(s, dir, "events").select(col("event_id"), col("user_id"), col("ts"))
    val o = Tables(s, dir, "orders")
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"))
    graft.plans.AsOfJoin
      .asofJoin(e, o, "user_id", "o_custkey", "ts", "o_orderdate",
        rightTieBreak = Seq(o("o_orderkey")), // max-key tiebreak
        strategy = mode) // pinned in the plan, not session conf
      .select(col("event_id"), col("user_id"),
        col("o_orderkey").as("last_order"),
        col("o_orderdate").as("last_order_date"))
      .orderBy(col("event_id"))
  }

  /** binned range join: order totals bucketed into price bands via
    * point-in-interval semantics (the equi-join rewrite, never a nested
    * loop — RangeJoinSpec pins the plan shape). Integer-valued band
    * edges so double comparisons are engine-exact.
    */
  def q61_range_join(s: SparkSession, dir: String): DataFrame = {
    val bands = s.range(0, 24).select(col("id").as("band"),
      (col("id") * lit(25000.0)).as("lo"),
      (col("id") * lit(25000.0) + lit(24999.0)).as("hi"))
    RangeJoin.pointInInterval(Tables(s, dir, "orders"), col("o_totalprice"),
        bands, col("lo"), col("hi"), binWidth = 25000.0)
      .groupBy(col("band"))
      .agg(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 4).as("tp_sum"))
      .orderBy(col("band"))
  }

  /** interval-overlap join: per-order price windows vs overlapping price
    * bands, via the binned equi-join rewrite (each pair emitted once in
    * its owner bin — no distinct, no nested loop).
    */
  def q62_interval_overlap(s: SparkSession, dir: String): DataFrame = {
    val o = Tables(s, dir, "orders").select(col("o_orderkey"), col("o_totalprice"),
      (col("o_totalprice") - lit(2500.0)).as("a_lo"),
      (col("o_totalprice") + lit(2500.0)).as("a_hi"))
    val bands = s.range(0, 40).select(col("id").as("band"),
      (col("id") * lit(15000.0)).as("b_lo"),
      (col("id") * lit(15000.0) + lit(20000.0)).as("b_hi"))
    RangeJoin.intervalOverlap(o, col("a_lo"), col("a_hi"),
        bands, col("b_lo"), col("b_hi"), binWidth = 15000.0)
      .groupBy(col("band"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("o_totalprice")), 4).as("tp_sum"))
      .orderBy(col("band"))
  }

  /** forward as-of through the native sort-merge exec: each click joined
    * to the user's NEXT purchase (first purchase at-or-after the click).
    * The sortmerge path is the no-build-side-limit one — at 100 TB both
    * event streams shuffle by user and merge in one pass.
    */
  def q67_asof_forward(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables(s, dir, "events")
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts"))
    val purch = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id").as("p_user"),
        col("ts").as("p_ts"), col("value").as("p_value"))
    graft.plans.AsOfJoin.asofJoin(clicks, purch,
        "user_id", "p_user", "ts", "p_ts",
        rightTieBreak = Seq(purch("p_id")),
        strategy = "sortmerge", direction = "forward")
      .select(col("event_id"), col("user_id"),
        col("p_id").as("next_purchase"),
        round(col("p_value"), 4).as("purchase_value"))
      .orderBy(col("event_id"))
  }

  /** nearest as-of through the native broadcast exec: each signup joined
    * to the user's temporally-closest error event (equal distance prefers
    * the earlier one).
    */
  def q68_asof_nearest(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables(s, dir, "events")
    val signups = ev.filter(col("event_type") === "signup")
      .select(col("event_id"), col("user_id"), col("ts"))
    val errs = ev.filter(col("event_type") === "error")
      .select(col("event_id").as("e_id"), col("user_id").as("e_user"),
        col("ts").as("e_ts"))
    graft.plans.AsOfJoin.asofJoin(signups, errs,
        "user_id", "e_user", "ts", "e_ts",
        rightTieBreak = Seq(errs("e_id")),
        strategy = "broadcast", direction = "nearest")
      .select(col("event_id"), col("user_id"), col("e_id").as("nearest_error"))
      .orderBy(col("event_id"))
  }

  /** Calendar gap-fill over the daily order series: every day of the
    * data's range with zero-filled counts/revenue, an `is_gap` marker,
    * and the daily-max total forward-carried within the calendar year —
    * see [[graft.operators.TimeSeries.gapFillDaily]] (spine bounded by
    * wall-clock days, all post-aggregate relations day-count-sized).
    * Revenue sums DECIMAL (exact); the carried max is a max (exact).
    */
  def q156_gap_fill(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables(s, dir, "orders")
      .groupBy(date_trunc("DAY", col("o_orderdate")).as("d"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(18,2)")).as("rev"),
        max(col("o_totalprice")).as("mx"))
    // revenue/carried_max stay UNROUNDED: the decimal→double cast and
    // the double max are bit-identical across engines, while round(·,2)
    // of a value sitting exactly on a .xx5 grid point is the q116
    // half-boundary hazard (one sf0.01 cell flipped when rounded).
    TimeSeries.gapFillDaily(daily, "d",
        zeroFill = Seq("n_orders", "rev"), carry = Seq("mx"))
      .select(col("d"), col("n_orders"),
        col("rev").cast("double").as("revenue"),
        col("is_gap"), col("mx").as("carried_max"))
      .orderBy(col("d"))
  }

  val entries: Seq[Entry] = Seq(
    Entry("q48_asof_native", q48_asof_native, Some(
      """SELECT event_id, user_id, o_orderkey AS last_order,
        |  o_orderdate AS last_order_date
        |FROM events e LEFT JOIN orders o
        |  ON o.o_custkey = e.user_id AND o.o_orderdate <= e.ts
        |QUALIFY row_number() OVER
        |  (PARTITION BY event_id
        |   ORDER BY o_orderdate DESC NULLS LAST, o_orderkey DESC NULLS LAST) = 1
        |ORDER BY event_id""".stripMargin)),
    Entry("q50_asof_broadcast", q50_asof_broadcast, Some(
      """SELECT event_id, user_id, o_orderkey AS last_order,
        |  o_orderdate AS last_order_date
        |FROM events e LEFT JOIN orders o
        |  ON o.o_custkey = e.user_id AND o.o_orderdate <= e.ts
        |QUALIFY row_number() OVER
        |  (PARTITION BY event_id
        |   ORDER BY o_orderdate DESC NULLS LAST, o_orderkey DESC NULLS LAST) = 1
        |ORDER BY event_id""".stripMargin)),
    Entry("q61_range_join", q61_range_join, Some(
      """WITH bands AS (
        |  SELECT i AS band, i * 25000.0 AS lo, i * 25000.0 + 24999.0 AS hi
        |  FROM range(0, 24) t(i)
        |)
        |SELECT band, count(*) AS n, round(sum(o_totalprice), 4) AS tp_sum
        |FROM orders JOIN bands ON o_totalprice >= lo AND o_totalprice <= hi
        |GROUP BY band ORDER BY band""".stripMargin)),
    Entry("q62_interval_overlap", q62_interval_overlap, Some(
      """WITH bands AS (
        |  SELECT i AS band, i * 15000.0 AS b_lo, i * 15000.0 + 20000.0 AS b_hi
        |  FROM range(0, 40) t(i)
        |), o AS (
        |  SELECT o_totalprice, o_totalprice - 2500.0 AS a_lo,
        |         o_totalprice + 2500.0 AS a_hi
        |  FROM orders
        |)
        |SELECT band, count(*) AS n, round(sum(o_totalprice), 4) AS tp_sum
        |FROM o JOIN bands ON a_lo <= b_hi AND b_lo <= a_hi
        |GROUP BY band ORDER BY band""".stripMargin)),
    Entry("q67_asof_forward", q67_asof_forward, Some(
      """WITH clicks AS (
        |  SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
        |), purch AS (
        |  SELECT event_id AS p_id, user_id AS p_user, ts AS p_ts, value AS p_value
        |  FROM events WHERE event_type = 'purchase'
        |)
        |SELECT c.event_id, c.user_id, p_id AS next_purchase,
        |       round(p_value, 4) AS purchase_value
        |FROM clicks c LEFT JOIN purch p ON p_user = c.user_id AND p_ts >= c.ts
        |QUALIFY row_number() OVER (PARTITION BY c.event_id
        |  ORDER BY p_ts ASC NULLS LAST, p_id DESC NULLS LAST) = 1
        |ORDER BY c.event_id""".stripMargin)),
    Entry("q68_asof_nearest", q68_asof_nearest, Some(
      """WITH signups AS (
        |  SELECT event_id, user_id, ts FROM events WHERE event_type = 'signup'
        |), errs AS (
        |  SELECT event_id AS e_id, user_id AS e_user, ts AS e_ts
        |  FROM events WHERE event_type = 'error'
        |)
        |SELECT s.event_id, s.user_id, e_id AS nearest_error
        |FROM signups s LEFT JOIN errs e ON e_user = s.user_id
        |QUALIFY row_number() OVER (PARTITION BY s.event_id
        |  ORDER BY abs(epoch_us(e_ts) - epoch_us(s.ts)) ASC NULLS LAST,
        |           CASE WHEN e_ts <= s.ts THEN 0 ELSE 1 END ASC,
        |           e_id DESC NULLS LAST) = 1
        |ORDER BY s.event_id""".stripMargin)),
    Entry("q156_gap_fill", q156_gap_fill, Some(
      """WITH daily AS (
        |  SELECT date_trunc('day', o_orderdate) AS d, count(*) AS n_orders,
        |    sum(CAST(o_totalprice AS DECIMAL(18,2))) AS rev,
        |    max(o_totalprice) AS mx
        |  FROM orders GROUP BY 1),
        |bounds AS (SELECT min(d) AS d0, max(d) AS d1 FROM daily),
        |spine AS (SELECT unnest(generate_series(
        |    (SELECT d0 FROM bounds), (SELECT d1 FROM bounds),
        |    INTERVAL 1 DAY)) AS d)
        |SELECT s.d, coalesce(n_orders, 0) AS n_orders,
        |  CAST(coalesce(rev, 0) AS DOUBLE) AS revenue,
        |  CASE WHEN daily.d IS NULL THEN 1 ELSE 0 END AS is_gap,
        |  last_value(mx IGNORE NULLS) OVER (PARTITION BY year(s.d)
        |    ORDER BY s.d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS carried_max
        |FROM spine s LEFT JOIN daily ON s.d = daily.d
        |ORDER BY s.d""".stripMargin)))
}
