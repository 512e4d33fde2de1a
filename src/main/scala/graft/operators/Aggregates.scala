package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** GroupBy + aggregate with the reference's exact semantics
  * (reference: src/ts/dataframe.ts:150-152, 248-348).
  *
  * Quirks preserved (each has a targeted test / oracle query):
  *  - `count` counts ALL rows in the group including nulls → `count(lit(1))`
  *    (dataframe.ts:301-302), NOT SQL's null-skipping `count(col)`.
  *  - `sum` yields 0 (not null) for all-null groups (dataframe.ts:304-305).
  *  - `mean` yields 0 for all-null groups (dataframe.ts:313-316).
  *  - `stddev` is the POPULATION std-dev (÷n) → `stddev_pop`
  *    (dataframe.ts:327-334), not Spark's sample `stddev`.
  *  - `median` is exact (avg of middle pair) → Spark ≥3.4 `median`
  *    (dataframe.ts:318-325).
  *  - `concat` joins with ", " (dataframe.ts:342-343); group encounter order
  *    is nondeterministic under distributed shuffle, so the library sorts
  *    values first (documented divergence — the deterministic upgrade).
  *  - `first`/`last` follow encounter order (dataframe.ts:336-340); for
  *    determinism at scale callers should thread an index column and use
  *    `minBy`/`maxBy` — `firstBy`/`lastBy` below.
  *
  * Scale note: every fn here is a partial-aggregatable Catalyst built-in, so
  * map-side combine applies and the shuffle carries only sketch-sized state
  * per (group, agg) — safe at 100 TB as long as group cardinality fits the
  * output, which is the user's contract anyway.
  */
object Aggregates {

  /** One aggregate spec: output name -> (input column, function name). */
  final case class AggSpec(outName: String, inCol: String, fn: String)

  def aggColumn(inCol: String, fn: String): Column = fn match {
    case "count"  => count(lit(1))
    case "sum"    => coalesce(sum(col(inCol)), lit(0.0d))
    case "min"    => min(col(inCol))
    case "max"    => max(col(inCol))
    case "mean"   => coalesce(avg(col(inCol)), lit(0.0d))
    case "median" => median(col(inCol))
    case "stddev" => coalesce(stddev_pop(col(inCol)), lit(0.0d))
    case "first"  => first(col(inCol), ignoreNulls = false)
    case "last"   => last(col(inCol), ignoreNulls = false)
    case "concat" =>
      array_join(sort_array(collect_list(col(inCol).cast("string"))), ", ")
    case "countDistinct" => countDistinct(col(inCol)) // extension
    case other => throw new IllegalArgumentException(s"unknown agg fn: $other")
  }

  /** Deterministic first/last: value of `valueCol` at the min/max of
    * `orderCol` (extension — the scale-safe form of encounter-order
    * first/last).
    */
  def firstBy(valueCol: String, orderCol: String): Column =
    min_by(col(valueCol), col(orderCol))
  def lastBy(valueCol: String, orderCol: String): Column =
    max_by(col(valueCol), col(orderCol))

  /** `df.groupBy(groupCol).aggregate(specs)` with reference semantics.
    * Output columns: the group column first, then each spec in declaration
    * order (reference dataframe.ts:273-289).
    */
  def groupByAgg(df: DataFrame, groupCol: String, specs: Seq[AggSpec]): DataFrame = {
    require(specs.nonEmpty, "at least one aggregate spec required")
    val cols = specs.map(s => aggColumn(s.inCol, s.fn).as(s.outName))
    df.groupBy(col(groupCol)).agg(cols.head, cols.tail: _*)
  }

  /** Custom aggregate closure over the group's value array — the
    * reference's `{col, fn: values => any}` spec (dataframe.ts:40-44,
    * 281-283). The group's values are collected (same materialization the
    * reference does) and the closure applied; for scale-safe custom
    * aggregation prefer a typed `Aggregator[IN,BUF,OUT]` (see
    * OperatorsSpec for an example) — this path is the parity surface.
    */
  def customAggDouble(inCol: String, f: Seq[Double] => Double): Column = {
    val u = udf((xs: Seq[Double]) => f(xs))
    u(collect_list(col(inCol).cast("double")))
  }

  def customAggString(inCol: String, f: Seq[String] => String): Column = {
    val u = udf((xs: Seq[String]) => f(xs))
    u(collect_list(col(inCol).cast("string")))
  }

  /** Whole-column (ungrouped) aggregates with loose numeric parsing, the
    * Zig path (reference src/zig/dataframe.zig:344-464): values go through
    * the `$`/comma/percent-stripping parseFloat before aggregating, and
    * `count` counts NON-EMPTY fields (dataframe.zig:454-464 — differs from
    * the grouped TS count).
    */
  def columnAgg(df: DataFrame, inCol: String, fn: String): DataFrame = {
    import graft.functions.Coercions.numberLoose
    val v = numberLoose(col(inCol))
    val c = fn match {
      case "count" =>
        count(when(col(inCol).isNotNull && col(inCol).cast("string") =!= "", 1))
      case "sum"    => coalesce(sum(v), lit(0.0d))
      case "min"    => min(v)
      case "max"    => max(v)
      case "mean"   => coalesce(avg(v), lit(0.0d))
      case "median" => median(v)
      case "stddev" => coalesce(stddev_pop(v), lit(0.0d))
      case other => throw new IllegalArgumentException(s"unknown agg fn: $other")
    }
    df.agg(c.as(fn))
  }
}
