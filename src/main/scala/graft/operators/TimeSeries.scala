package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Calendar-spine time-series utilities for reporting pipelines.
  *
  * The reference engine's analytics surface stops at per-group
  * aggregation (aggregate.ts); densifying an aggregated series onto a
  * complete calendar — so downstream charting/joins see every day, gap
  * or not — is the standard companion step in a warehouse pipeline and
  * is included here as a first-class operator.
  *
  * Scale shape: the spine has one row per calendar day of the data's
  * range — BOUNDED by wall-clock time, not data volume (100 TB of
  * orders still spans only thousands of days) — and the input is a
  * per-day AGGREGATE, so every join/window below runs on day-count-
  * sized relations. The expensive part (the groupBy producing the
  * daily frame) stays in the caller where Catalyst can push it against
  * the scan.
  */
object TimeSeries {

  /** Left-join `daily` (one row per `dateCol` day, pre-aggregated)
    * onto the complete daily spine spanning its min..max date.
    *
    * - `zeroFill` columns are `coalesce`d to 0 on gap days (count/sum
    *   semantics).
    * - `carry` columns are forward-filled with the last non-null value
    *   WITHIN the same calendar year (`last(..., ignoreNulls)` over a
    *   year-partitioned ordered window — partitioned so no
    *   single-partition WindowExec appears at any scale; the annual
    *   reset is the documented semantic, mirrored by oracles).
    * - `is_gap` (0/1) marks spine days absent from `daily`.
    *
    * Requires `dateCol` to be a DateType or day-truncated TimestampType
    * column (the repo's day-panel convention — q89/q156 pass
    * `date_trunc("DAY", ts)`; `sequence(..., interval 1 day)` steps
    * either type) and `daily` to be deduplicated per day (one row per
    * date) — duplicate dates would fan out the spine join.
    */
  def gapFillDaily(daily: DataFrame, dateCol: String,
      zeroFill: Seq[String], carry: Seq[String] = Nil): DataFrame = {
    require(daily.columns.contains(dateCol), s"missing $dateCol")
    require(!daily.columns.contains("__present"),
      "reserved column name __present")
    require(!daily.columns.contains("is_gap"),
      "output column is_gap would overwrite an input column")
    // the (day-count-sized) aggregate feeds BOTH the bounds and the
    // spine join — checkpoint it once or the upstream aggregation
    // re-executes per branch (the AQE branch-re-execution lesson)
    val once = daily.localCheckpoint()
    val marked = once.withColumn("__present", lit(1))
    val bounds = once.agg(min(col(dateCol)).as("__d0"),
      max(col(dateCol)).as("__d1"))
    val spine = bounds
      .filter(col("__d0").isNotNull)
      .select(explode(expr("sequence(__d0, __d1, interval 1 day)"))
        .as(dateCol))
    val joined = spine.join(marked, Seq(dateCol), "left")
    val filled = zeroFill.foldLeft(joined)((df, c) =>
      df.withColumn(c, coalesce(col(c), lit(0))))
    val w = Window.partitionBy(year(col(dateCol))).orderBy(col(dateCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val carried = carry.foldLeft(filled)((df, c) =>
      df.withColumn(c, last(col(c), ignoreNulls = true).over(w)))
    carried
      .withColumn("is_gap",
        when(col("__present").isNull, lit(1)).otherwise(lit(0)))
      .drop("__present")
  }
}
