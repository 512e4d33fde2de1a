package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Coercions
import graft.operators.{Aggregates, Bucketing, Joins, Ops}
import graft.operators.Aggregates.AggSpec
import Ops._

/** Csv/relational family: the TurboCSV surface and the warehouse shapes
  * built from Spark's own relational operators and graft's thin
  * relational helpers (`Ops`, `Joins`, `Aggregates`, `Coercions`,
  * `SortKey`, `Bucketing`, `Mutations`, the CSV reader and writer) —
  * filters, sorts, joins, windows, grouping sets, the TPC-H
  * silhouettes and the CSV round trip. A catalog query that calls no
  * other operator module lands here.
  */
object RelationalQueries {

  /** TPC-H Q1 shape — groupBy + the main numeric aggregate set
    * (reference groupBy/aggregate: src/ts/dataframe.ts:150-152,268-348).
    */
  def q01_agg_basic(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "lineitem")
      .filter(col("l_shipdate") <= lit("1998-09-02"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        round(sum(col("l_quantity")), 4).as("sum_qty"),
        round(sum(col("l_extendedprice")), 4).as("sum_base_price"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4)
          .as("sum_disc_price"),
        round(avg(col("l_quantity")), 4).as("avg_qty"),
        round(avg(col("l_discount")), 4).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  /** select projection (reference dataframe.ts:95-105). */
  def q02_select(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "lineitem")
      .selectCols("l_orderkey", "l_linenumber", "l_quantity")
      .orderBy(col("l_orderkey"), col("l_linenumber"))

  /** numeric + equality filter via the CLI filter language
    * (reference filter.ts:26-123).
    */
  def q03_filter(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "lineitem")
      .filterExpr("l_quantity > 45 && l_returnflag == R")
      .selectCols("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")
      .orderBy(col("l_orderkey"), col("l_linenumber"))

  /** string predicate filters contains/startsWith/endsWith
    * (reference filter.ts:90-111) + `matches` as rlike (README:212-213).
    */
  def q04_filter_string(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "part")
      .filterExpr("p_type contains ECO || p_name startsWith red")
      .selectCols("p_partkey", "p_name", "p_type")
      .orderBy(col("p_partkey"))

  /** lexicographic sort on stringified data — the reference's untyped sort
    * semantics ("100" < "25", dataframe.ts:124-137).
    */
  def q05_sort_lex(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "orders")
      .select(col("o_orderkey").cast("string").as("okey_str"))
      .sorted("okey_str")

  /** top-k: sort + firstN fuses to TakeOrderedAndProject (reference
    * sort-then-first, dataframe.ts:124-145,212-215).
    */
  def q06_topk(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "orders")
      .select(col("o_orderkey"), round(col("o_totalprice"), 4).as("px"))
      .orderBy(col("px").desc, col("o_orderkey").asc)
      .firstN(100)

  // ---------------------------------------------------------------- joins

  /** inner equi-join (reference dataframe.ts:157-207). */
  def q07_join_inner(s: SparkSession, dir: String): DataFrame =
    Joins
      .joinRef(Tables(s, dir, "customer"), Tables(s, dir, "orders"),
        "c_custkey", "o_custkey", "inner")
      .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
        round(col("o_totalprice"), 4).as("px"))
      .orderBy(col("o_orderkey"))

  /** left join + aggregate over the nullable side. */
  def q08_join_left(s: SparkSession, dir: String): DataFrame =
    Joins
      .joinRef(Tables(s, dir, "customer"), Tables(s, dir, "orders"),
        "c_custkey", "o_custkey", "left")
      .groupBy(col("c_custkey"))
      .agg(
        count(col("o_orderkey")).as("n_orders"),
        round(coalesce(sum(col("o_totalprice")), lit(0.0d)), 4).as("total_px"))
      .orderBy(col("c_custkey"))

  /** right join (reference matched-set tracking, dataframe.ts:191-204). */
  def q09_join_right(s: SparkSession, dir: String): DataFrame =
    Joins
      .joinRef(Tables(s, dir, "orders"), Tables(s, dir, "customer"),
        "o_custkey", "c_custkey", "right")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("n_orders"))
      .orderBy(col("c_custkey"))

  /** full outer join of two aggregated sides. */
  def q10_join_full(s: SparkSession, dir: String): DataFrame = {
    val cust = Tables(s, dir, "customer").groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("n_cust"))
    val supp = Tables(s, dir, "supplier").groupBy(col("s_nationkey"))
      .agg(count(lit(1)).as("n_supp"))
    Joins.joinRef(cust, supp, "c_nationkey", "s_nationkey", "full")
      .select(
        coalesce(col("c_nationkey"), col("s_nationkey")).as("nk"),
        coalesce(col("n_cust"), lit(0L)).as("n_cust"),
        coalesce(col("n_supp"), lit(0L)).as("n_supp"))
      .orderBy(col("nk"))
  }

  /** the reference's `{...left, ...right}` right-wins column-overlap
    * semantics (dataframe.ts:189) on a left join with partial matches.
    */
  def q11_join_rightwins(s: SparkSession, dir: String): DataFrame = {
    val left = Tables(s, dir, "customer").select(
      col("c_custkey"), col("c_nationkey").as("nationkey"),
      col("c_name").as("name"))
    val right = Tables(s, dir, "nation").filter(col("n_nationkey") < 10).select(
      col("n_nationkey").as("nationkey"), col("n_name").as("name"))
    Joins.joinRef(left, right, "nationkey", "left")
      .orderBy(col("c_custkey"))
  }

  // ------------------------------------------------------------ agg quirks

  /** the reference aggregate quirks in one query: count-includes-nulls,
    * population stddev, exact median, sorted concat
    * (dataframe.ts:297-348; determinism note in Aggregates.scaladoc).
    */
  def q12_agg_quirks(s: SparkSession, dir: String): DataFrame =
    Aggregates
      .groupByAgg(
        Tables(s, dir, "customer"), "c_nationkey",
        Seq(
          AggSpec("n", "c_custkey", "count"),
          AggSpec("sd_raw", "c_acctbal", "stddev"),
          AggSpec("med_raw", "c_acctbal", "median"),
          AggSpec("segs", "c_mktsegment", "concat")))
      .select(col("c_nationkey"), col("n"),
        round(col("sd_raw"), 4).as("sd"),
        round(col("med_raw"), 4).as("med"), col("segs"))
      .orderBy(col("c_nationkey"))

  /** ungrouped whole-column aggregates over loose-parsed numeric strings —
    * the Zig path (src/zig/dataframe.zig:344-464): synthesizes currency
    * strings from integer columns, then sum/mean/min/max via numberLoose.
    */
  def q13_column_agg_loose(s: SparkSession, dir: String): DataFrame = {
    val withCur = Tables(s, dir, "supplier").select(
      concat(lit("$"), (col("s_suppkey") % 90 + 10).cast("string"), lit(","),
        lpad((col("s_suppkey") % 1000).cast("string"), 3, "0"), lit(".25"))
        .as("cur_s"))
    import Coercions.numberLoose
    withCur.agg(
      round(sum(numberLoose(col("cur_s"))), 4).as("total"),
      round(avg(numberLoose(col("cur_s"))), 4).as("mean"),
      round(min(numberLoose(col("cur_s"))), 4).as("vmin"),
      round(max(numberLoose(col("cur_s"))), 4).as("vmax"),
      count(when(col("cur_s").isNotNull && col("cur_s") =!= "", 1)).as("n"))
  }

  // ------------------------------------------------------------- set ops

  /** distinct (Spark-free extension; reference lacks it — SURVEY §2.7). */
  def q14_distinct(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "lineitem")
      .select(col("l_returnflag"), col("l_linestatus"))
      .distinct()
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  /** union / intersect / except (extensions, SURVEY §2.7). */
  def q15_setops(s: SparkSession, dir: String): DataFrame = {
    val c = Tables(s, dir, "customer").select(col("c_nationkey").as("k"))
    val sup = Tables(s, dir, "supplier").select(col("s_nationkey").as("k"))
    val u = c.union(sup).distinct().select(lit("u").as("op"), col("k"))
    val i = c.intersect(sup).select(lit("i").as("op"), col("k"))
    val e = c.except(sup).select(lit("e").as("op"), col("k"))
    u.union(i).union(e).orderBy(col("op"), col("k"))
  }

  // --------------------------------------------------- order-dependent ops

  /** head (reference head.ts / preview limit). */
  def q16_head(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "orders")
      .select(col("o_orderkey"), col("o_orderstatus"),
        round(col("o_totalprice"), 4).as("px"))
      .orderBy(col("o_orderkey"))
      .firstN(10)

  /** tail under an explicit total order (reference tail.ts ring buffer). */
  def q17_tail(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "orders")
      .select(col("o_orderkey"), col("o_orderstatus"))
      .lastN(10, "o_orderkey")

  /** point row access `at(i)` (reference dataframe.ts:222-227). */
  def q18_at(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "orders")
      .select(col("o_orderkey"), col("o_orderstatus"))
      .at(41, "o_orderkey")

  /** fromLine/toLine 1-based inclusive window (reference parser.ts:170-181). */
  def q19_line_range(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "orders")
      .select(col("o_orderkey"))
      .lineRange(100, 110, "o_orderkey")

  // ------------------------------------------------------------- coercions

  /** schema coercion semantics (reference row.ts:620-706): currency with
    * thousands separator, percent, accounting negative, loose booleans —
    * oracle derives expected values arithmetically (independent derivation,
    * not a reimplementation of the parser).
    */
  def q20_coercions(s: SparkSession, dir: String): DataFrame = {
    val li = Tables(s, dir, "lineitem").select(
      col("l_orderkey").as("lo"), col("l_linenumber").as("ln"),
      concat(lit("$"), (col("l_orderkey") % 90 + 10).cast("string"), lit(","),
        lpad((col("l_partkey") % 1000).cast("string"), 3, "0"), lit(".25"))
        .as("cur_s"),
      concat((col("l_partkey") % 200).cast("string"), lit("%")).as("pct_s"),
      concat(lit("("), (col("l_suppkey") % 50).cast("string"), lit(".5)"))
        .as("acc_s"),
      (col("l_linenumber") % 4).cast("int").as("bsel"))
    val boolS = when(col("bsel") === 0, lit("yes"))
      .when(col("bsel") === 1, lit("FALSE"))
      .when(col("bsel") === 2, lit("1"))
      .otherwise(lit("n"))
    li.select(
        col("lo"), col("ln"),
        round(Coercions.numberLoose(col("cur_s")), 4).as("cur"),
        round(Coercions.percentLoose(col("pct_s")), 4).as("pct"),
        round(Coercions.numberLoose(col("acc_s")), 4).as("acc"),
        Coercions.boolLoose(boolS).as("flag"))
      .orderBy(col("lo"), col("ln"))
  }

  // ---------------------------------------------------------------- window

  /** window functions (extension; reference has none — SURVEY §2.5):
    * row_number + running sum per partition.
    */
  def q21_window_funcs(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    Tables(s, dir, "orders")
      .select(col("o_custkey"), col("o_orderkey"),
        row_number().over(w).as("rn"),
        round(sum(col("o_totalprice"))
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)), 4)
          .as("running"))
      .orderBy(col("o_custkey"), col("o_orderkey"))
  }

  /** event-time tumbling window aggregation (Structured-Streaming-shaped;
    * batch-equivalent here so the oracle can check it).
    */
  def q22_events_window(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "events")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("v"))
      .select(col("window.start").as("hr"), col("event_type"), col("n"), col("v"))
      .orderBy(col("hr"), col("event_type"))

  /** as-of join (extension): latest order per user at event time.
    * Composed from a range-condition join + window dedup — the Spark-first
    * form; the equality key (user) carries the shuffle, AQE handles skew.
    */
  def q23_asof_join(s: SparkSession, dir: String): DataFrame = {
    val e = Tables(s, dir, "events").select(col("event_id"), col("user_id"), col("ts"))
    val o = Tables(s, dir, "orders")
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"))
    val joined = e.join(o,
      o("o_custkey") === e("user_id") && o("o_orderdate") <= e("ts"), "left")
    val w = Window.partitionBy(col("event_id"))
      .orderBy(col("o_orderdate").desc_nulls_last, col("o_orderkey").desc_nulls_last)
    joined
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(col("event_id"), col("user_id"),
        col("o_orderkey").as("last_order"),
        col("o_orderdate").as("last_order_date"))
      .orderBy(col("event_id"))
  }

  /** exact dedup: keep first doc per identical text (hash groupBy —
    * extension for training-data pipelines).
    */
  def q25_dedup_exact(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents")
      .groupBy(col("text"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
      .select(col("keep_id"), col("n_copies"))
      .orderBy(col("keep_id"))

  /** CSV round-trip through OUR writer and reader: lineitem → CSV files →
    * parse (file path, schema coercion) → aggregate. The oracle reads the
    * original parquet, so any writer/reader corruption breaks the hash.
    */
  def q36_csv_roundtrip(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.{CsvReader, CsvWriter}
    // per-process + per-SF path (shutdown-cleaned): concurrent runs must
    // not overwrite each other's files while the lazy read-back is pending
    val tmp = TmpDirs.perProcess("graft_csv_roundtrip", dir)
    val li = Tables(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
        col("l_returnflag"))
    CsvWriter.write(li, tmp)
    val back = CsvReader.read(s, tmp).df
    back
      .groupBy(col("l_returnflag"))
      .agg(
        round(sum(col("l_quantity").cast("double")), 4).as("sum_qty"),
        count(lit(1)).as("n"))
      .orderBy(col("l_returnflag"))
  }

  /** semi/anti joins (EXISTS / NOT EXISTS). */
  def q37_semi_anti(s: SparkSession, dir: String): DataFrame = {
    val c = Tables(s, dir, "customer")
    val o = Tables(s, dir, "orders")
    val semi = Joins.semiJoin(c, o, "c_custkey", "o_custkey")
      .agg(count(lit(1)).as("n")).select(lit("semi").as("op"), col("n"))
    val anti = Joins.antiJoin(c, o, "c_custkey", "o_custkey")
      .agg(count(lit(1)).as("n")).select(lit("anti").as("op"), col("n"))
    anti.union(semi).orderBy(col("op"))
  }

  /** rollup grouping sets (extension; Spark `rollup`). */
  def q38_rollup(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "lineitem")
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"), round(sum(col("l_quantity")), 4).as("qty"))
      .orderBy(col("l_returnflag").asc_nulls_first,
        col("l_linestatus").asc_nulls_first)

  /** lag/lead analytic windows. */
  def q39_lag_lead(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    Tables(s, dir, "orders").select(
      col("o_custkey"), col("o_orderkey"),
      round(lag(col("o_totalprice"), 1).over(w), 4).as("prev_px"),
      lead(col("o_orderkey"), 1).over(w).as("next_ok"))
      .orderBy(col("o_custkey"), col("o_orderkey"))
  }

  /** gap-based sessionization in batch (the SQL-expressible twin of
    * Streams.sessionize; 30-minute gap).
    */
  def q40_sessions(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"))
    val withBrk = Tables(s, dir, "events").select(
      col("user_id"), col("ts"), col("value"),
      when(lag(col("ts"), 1).over(w).isNull, 0)
        .when(unix_micros(col("ts")) - unix_micros(lag(col("ts"), 1).over(w))
          > 1800000000L, 1)
        .otherwise(0).as("brk"))
    withBrk
      .withColumn("sid", sum(col("brk"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("sid"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("v"),
        min(col("ts")).as("session_start"))
      .orderBy(col("user_id"), col("sid"))
  }

  /** exact interpolated quantiles per group. */
  def q41_quantiles(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "events")
      .groupBy(col("event_type"))
      .agg(
        round(percentile(col("value"), lit(0.25)), 4).as("p25"),
        round(percentile(col("value"), lit(0.5)), 4).as("p50"),
        round(percentile(col("value"), lit(0.75)), 4).as("p75"),
        round(avg(col("value")), 4).as("mean"))
      .orderBy(col("event_type"))

  /** JSON field extraction from the events props column. */
  def q42_json(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "events")
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .groupBy(col("event_type"))
      .agg(sum(col("k")).as("ksum"), count(lit(1)).as("n"))
      .orderBy(col("event_type"))

  /** full SQL dialect over registered views — strictly beyond the
    * reference (it has no SQL at all): TPC-H Q3 shape through
    * `spark.sql`, custom functions available via GraftSession.init.
    */
  def q47_sql_dialect(s: SparkSession, dir: String): DataFrame = {
    GraftSession.init(s)
    Tables.registerAll(s, dir)
    s.sql(
      """SELECT o_orderkey,
        |  round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue,
        |  o_orderdate
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
        |  AND l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
        |GROUP BY o_orderkey, o_orderdate
        |ORDER BY revenue DESC, o_orderkey
        |LIMIT 20""".stripMargin)
  }

  /** per-label embedding centroids — the class-prototype pass (seed of
    * k-means / nearest-class-mean classification). posexplode + one
    * map-side-combinable avg per (label, dim).
    */
  def q66_label_centroids(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "embeddings")
      .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "e")))
      .groupBy(col("label"), col("dim"))
      .agg(round(avg(col("e")), 4).as("c"))
      .select(col("label"), col("dim").cast("long").as("dim"), col("c"))
      .orderBy(col("label"), col("dim"))

  /** time-RANGE window frame: per user, events and value-sum in the
    * preceding hour (peers at the same microsecond included — RANGE, not
    * ROWS). The frame rides the epoch-micros ordering key so both engines
    * compute the identical numeric frame.
    */
  def q69_rolling_window(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ep"))
      .rangeBetween(-3600000000L, 0L)
    Tables(s, dir, "events")
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("ep"), col("value"))
      .select(col("event_id"), col("user_id"),
        count(lit(1)).over(w).as("n_prev_hour"),
        round(sum(col("value")).over(w), 4).as("v_prev_hour"))
      .orderBy(col("event_id"))
  }

  /** pivot: event counts per day-of-month × event type, via the native
    * groupBy().pivot() with an EXPLICIT value list (no extra distinct
    * scan to discover pivot values — the two-pass form is the scale
    * trap); absent cells coalesce to 0 to match COUNT semantics.
    */
  def q70_pivot(s: SparkSession, dir: String): DataFrame = {
    val types = Seq("click", "error", "purchase", "signup", "view")
    Tables(s, dir, "events")
      .groupBy(dayofmonth(col("ts")).cast("long").as("d"))
      .pivot("event_type", types)
      .agg(count(lit(1)))
      .select(col("d") +: types.map(ty =>
        coalesce(col(ty), lit(0L)).as(ty)): _*)
      .orderBy(col("d"))
  }

  /** copy-on-write mutation under the driver oracle: edit + delete +
    * positional insert replayed as a deterministic plan over a sorted
    * base (the COW row index follows the pre-sort), then materialized in
    * final row order. Brings SURVEY §2.11 — previously spec-only — under
    * the DuckDB gate.
    */
  def q74_cow_mutations(s: SparkSession, dir: String): DataFrame = {
    val base = Tables(s, dir, "nation")
      .select(col("n_nationkey").cast("string").as("nkey"), col("n_name"))
      .orderBy(col("nkey").cast("int"))
    graft.operators.Mutations.writable(base)
      .setCell(3, "n_name", "EDITED")
      .deleteRow(5)
      .insertRow(2, Seq("999", "ZETALAND"))
      .result()
  }

  /** z-order (Morton) clustering value over two 10-bit keys — the
    * multi-dimensional layout pass behind OPTIMIZE ZORDER; pure integer
    * bit arithmetic, reproduced bit-for-bit in the DuckDB oracle.
    */
  def q76_zorder(s: SparkSession, dir: String): DataFrame = {
    val li = Tables(s, dir, "lineitem").select(
      col("l_orderkey"), col("l_linenumber"),
      (col("l_partkey") % 1024).as("x"), (col("l_suppkey") % 1024).as("y"))
    li.select(col("l_orderkey"), col("l_linenumber"), col("x"), col("y"),
        graft.operators.Bucketing.zorderValue(col("x"), col("y"), 10).as("zval"))
      .orderBy(col("zval"), col("x"), col("y"),
        col("l_orderkey"), col("l_linenumber"))
      .limit(100)
      .select(col("zval"), col("x"), col("y"))
  }

  /** upsert / CDC merge: a derived delta (10% price bump for every 29th
    * order, plus two brand-new keys) merged into orders via the
    * anti-join + union plan; summarized per provenance tag.
    */
  def q77_upsert(s: SparkSession, dir: String): DataFrame = {
    val base = Tables(s, dir, "orders").select(col("o_orderkey"),
      round(col("o_totalprice"), 4).as("o_totalprice"),
      lit("kept").as("tag"))
    val bumped = Tables(s, dir, "orders")
      .filter(col("o_orderkey") % 29 === 0)
      .select(col("o_orderkey"),
        round(col("o_totalprice") * 1.1, 4).as("o_totalprice"),
        lit("bumped").as("tag"))
    val fresh = s.range(1, 3).select((-col("id")).as("o_orderkey"),
      lit(123.4567).as("o_totalprice"), lit("inserted").as("tag"))
    graft.operators.Joins
      .upsert(base, bumped.unionByName(fresh), Seq("o_orderkey"))
      .groupBy(col("tag"))
      .agg(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 4).as("tp"))
      .orderBy(col("tag"))
  }

  /** CUBE grouping: all 2^k aggregation granularities in one pass
    * (Expand + single aggregate — NOT 2^k scans). */
  def q78_cube(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "lineitem")
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"), round(sum(col("l_quantity")), 4).as("qty"))
      .select(coalesce(col("l_returnflag"), lit("(all)")).as("rf"),
        coalesce(col("l_linestatus"), lit("(all)")).as("ls"),
        col("n"), col("qty"))
      .orderBy(col("rf"), col("ls"))

  /** ntile quartiles per segment (standard uneven-bucket semantics in
    * both engines), summarized per (segment, tile). */
  def q79_ntile(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("c_mktsegment"))
      .orderBy(col("c_acctbal"), col("c_custkey"))
    Tables(s, dir, "customer")
      .select(col("c_mktsegment"), col("c_acctbal"),
        ntile(4).over(w).as("tile"))
      .groupBy(col("c_mktsegment"), col("tile"))
      .agg(count(lit(1)).as("n"),
        round(min(col("c_acctbal")), 4).as("lo"),
        round(max(col("c_acctbal")), 4).as("hi"))
      .orderBy(col("c_mktsegment"), col("tile"))
  }

  /** temporal rollup: date_trunc('month') × priority — the standard
    * time-series aggregation grid; one partial-aggregated groupBy. */
  def q80_monthly_trend(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "orders")
      .groupBy(date_trunc("month", col("o_orderdate")).as("mon"),
        col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), round(avg(col("o_totalprice")), 4).as("avg_tp"))
      .orderBy(col("mon"), col("o_orderpriority"))

  /** ORDERED array aggregation: top-3 customers per nation as a
    * rank-ordered joined list. collect_list has NO order guarantee in a
    * distributed agg — ordering is recovered by sorting (rank, name)
    * structs INSIDE the aggregated value, the engine-safe idiom.
    */
  def q81_top_names(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("c_nationkey"))
      .orderBy(col("c_acctbal").desc, col("c_custkey"))
    Tables(s, dir, "customer")
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .groupBy(col("c_nationkey"))
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("rk"), col("c_name")))),
          s2 => s2.getField("c_name")), ",").as("top3"))
      .orderBy(col("c_nationkey"))
  }

  /** daily active users with the new/returning split — first-touch
    * cohorting over the events stream (distinct (user, day) + min-day
    * join; both shuffles key on user_id).
    */
  def q89_daily_active(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables(s, dir, "events")
      .select(col("user_id"), date_trunc("day", col("ts")).as("d"))
      .localCheckpoint() // feeds first-touch AND distinct-day branches
    val first = ev.groupBy(col("user_id")).agg(min(col("d")).as("first_d"))
    ev.distinct()
      .join(first, "user_id")
      .groupBy(col("d"))
      .agg(count(lit(1)).as("active"),
        count(when(col("d") === col("first_d"), 1)).as("new_users"))
      .orderBy(col("d"))
  }

  /** per-type inter-event gap distribution (same user, same type):
    * lag window in integer epoch-micros (engine-exact vs epoch_us), then
    * exact percentiles per type.
    */
  def q91_event_gaps(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("us"), col("event_id"))
    Tables(s, dir, "events")
      .select(col("user_id"), col("event_type"), col("event_id"),
        unix_micros(col("ts")).as("us"))
      .withColumn("gap", col("us") - lag(col("us"), 1).over(w))
      .groupBy(col("event_type"))
      .agg(count(col("gap")).as("n"),
        round(percentile(col("gap").cast("double") / 1e6, lit(0.5)), 4)
          .as("p50_s"),
        round(percentile(col("gap").cast("double") / 1e6, lit(0.9)), 4)
          .as("p90_s"),
        round(avg(col("gap").cast("double") / 1e6), 4).as("avg_s"))
      .orderBy(col("event_type"))
  }

  /** partition-pruned layout round-trip: write documents partitioned by
    * lang, read back with a lang filter (directory pruning — the scan
    * never opens other langs' files), aggregate. The oracle reads the
    * ORIGINAL parquet, so any layout/read corruption breaks the hash.
    */
  def q98_partition_prune(s: SparkSession, dir: String): DataFrame = {
    // per-process + per-SF path (shutdown-cleaned): a concurrent
    // Verify/Bench pair must not overwrite each other's layout mid-read
    // (the result is lazy; the directory has to stay intact until the
    // caller executes the plan)
    val tmp = TmpDirs.perProcess("graft_part_layout", dir)
    Bucketing.writePartitioned(Tables(s, dir, "documents"), tmp, Seq("lang"))
    s.read.parquet(tmp).filter(col("lang") === "en")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).cast("long").as("sum_chars"))
      .orderBy(col("source"))
  }

  /** GROUPING SETS over orders: (status, priority), (status), () in ONE
    * Expand+aggregate pass — the multi-granularity report shape beyond
    * rollup (q38) and cube (q78).
    */
  def q103_grouping_sets(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "orders")
      .groupingSets(
        Seq(Seq(col("o_orderstatus"), col("o_orderpriority")),
          Seq(col("o_orderstatus")), Seq()),
        col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("o_totalprice")), 4).as("tot"),
        grouping(col("o_orderstatus")).cast("long").as("g_status"),
        grouping(col("o_orderpriority")).cast("long").as("g_prio"))
      .select(col("o_orderstatus"), col("o_orderpriority"), col("n"),
        col("tot"), col("g_status"), col("g_prio"))
      .orderBy(col("g_status"), col("g_prio"),
        col("o_orderstatus").asc_nulls_first,
        col("o_orderpriority").asc_nulls_first)

  /** time-weighted average event value per type: each value weighted by
    * its holding duration (lead − ts within user×type, integer
    * epoch-micros) — the correct "average state" over irregular
    * samples, vs the plain per-event average.
    */
  def q104_time_weighted(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("us"), col("event_id"))
    Tables(s, dir, "events")
      .select(col("user_id"), col("event_type"), col("event_id"),
        col("value"), unix_micros(col("ts")).as("us"))
      .withColumn("gap", lead(col("us"), 1).over(w) - col("us"))
      .filter(col("gap").isNotNull)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("value") * col("gap")) / sum(col("gap")), 4)
          .as("twa"),
        round(avg(col("value")), 4).as("plain_avg"))
      .orderBy(col("event_type"))
  }

  /** rank trio per language over doc length: dense_rank (ties share,
    * no gaps), percent_rank, cume_dist — deterministic under ties by
    * definition, so no tie-break column is needed.
    */
  def q105_rank_trio(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("lang")).orderBy(col("n_chars").desc)
    Tables(s, dir, "documents")
      .select(col("doc_id"), col("lang"),
        dense_rank().over(w).cast("long").as("drank"),
        round(percent_rank().over(w), 4).as("prank"),
        round(cume_dist().over(w), 4).as("cdist"))
      .orderBy(col("doc_id"))
  }

  /** TPC-H Q5-shape 6-way join: region→nation broadcast down onto
    * customer, the lineitem⨝orders⨝customer chain shuffles on its keys,
    * supplier broadcast with the same-nation constraint. Catalyst/AQE
    * pick broadcast sides for every dimension; only the fact-table
    * chain exchanges.
    */
  def q107_local_volume(s: SparkSession, dir: String): DataFrame = {
    val r = Tables(s, dir, "region").filter(col("r_name") === "AMERICA")
    val n = Tables(s, dir, "nation")
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
    Tables(s, dir, "lineitem")
      .join(Tables(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .join(Tables(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables(s, dir, "supplier")),
        col("l_suppkey") === col("s_suppkey") &&
          col("s_nationkey") === col("c_nationkey"))
      .groupBy(col("n_name"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))),
        4).as("revenue"))
      .orderBy(col("revenue").desc, col("n_name"))
  }

  /** correlated scalar subquery (orders at >2× their customer's average)
    * — exercises Catalyst decorrelation into an aggregate + join.
    */
  def q108_correlated_subquery(s: SparkSession, dir: String): DataFrame = {
    GraftSession.init(s)
    Tables.registerAll(s, dir)
    s.sql(
      """SELECT o_orderkey, o_custkey, round(o_totalprice, 4) AS price
        |FROM orders o
        |WHERE o_totalprice > 2 * (SELECT avg(o2.o_totalprice)
        |  FROM orders o2 WHERE o2.o_custkey = o.o_custkey)
        |ORDER BY o_orderkey""".stripMargin)
  }

  /** EXISTS + NOT EXISTS predicate subqueries — rewritten by Catalyst
    * into a semi join and an anti join on the customer key.
    */
  def q109_exists_subquery(s: SparkSession, dir: String): DataFrame = {
    GraftSession.init(s)
    Tables.registerAll(s, dir)
    s.sql(
      """SELECT c_custkey, c_name FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o
        |  WHERE o.o_custkey = c.c_custkey
        |    AND o.o_orderpriority = '1-URGENT')
        |AND NOT EXISTS (SELECT 1 FROM orders o
        |  JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        |  WHERE o.o_custkey = c.c_custkey AND l.l_returnflag = 'R')
        |ORDER BY c_custkey""".stripMargin)
  }

  /** TPC-H Q18 shape (large-volume orders): HAVING on the lineitem
    * aggregate, then join the qualifying keys back — the agg side is
    * tiny after the HAVING cut, so both joins broadcast under AQE.
    */
  def q110_big_orders(s: SparkSession, dir: String): DataFrame = {
    val big = Tables(s, dir, "lineitem")
      .groupBy(col("l_orderkey"))
      .agg(sum(col("l_quantity")).as("__qty"))
      .filter(col("__qty") > 250)
    big.join(Tables(s, dir, "orders"), col("o_orderkey") === col("l_orderkey"))
      .join(Tables(s, dir, "customer"), col("c_custkey") === col("o_custkey"))
      .select(col("c_custkey"), col("o_orderkey"),
        round(col("__qty"), 4).as("qty"),
        round(col("o_totalprice"), 4).as("price"))
      .orderBy(col("qty").desc, col("o_orderkey"))
  }

  /** snapshot diff summary: two simulated corpus versions (modulo
    * slices; a deterministic edit suffix on the %5 slice — NOT upper(),
    * whose full-vs-simple case mapping differs between Java and utf8proc
    * on e.g. 'ß') classified added / removed / changed / same in one
    * (key, fingerprint) full-outer join — the dataset-versioning audit
    * between ingestion runs.
    */
  def q113_snapshot_diff(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
    val old = docs.filter(col("doc_id") % 7 =!= 0)
    val neu = docs.filter(col("doc_id") % 3 =!= 0)
      .withColumn("text",
        when(col("doc_id") % 5 === 0, concat(col("text"), lit(" v2")))
          .otherwise(col("text")))
    graft.operators.Joins
      .snapshotDiff(old, neu, Seq("doc_id"), md5(col("text")))
      .groupBy(col("status"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("status"))
  }

  /** per-language z-score outlier profile of doc length: sample stddev
    * stats broadcast back onto the corpus, |z| > 2 counted — the
    * outlier-trim diagnostic beside the percentile band (q85).
    */
  def q114_zscore_outliers(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
    val stats = docs.groupBy(col("lang"))
      .agg(avg(col("n_chars")).as("__m"), stddev(col("n_chars")).as("__s"))
    // boundary predicate on the ROUNDED z (engine-parity rule: avg/stddev
    // accumulation order differs between engines, so the raw |z| > 2 cut
    // could flip for a doc sitting within accumulation noise of 2.0)
    val z = round((col("n_chars") - col("__m")) / col("__s"), 4)
    docs.join(broadcast(stats), "lang")
      .select(col("lang"), z.as("z"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n"),
        count(when(abs(col("z")) > 2, 1)).as("n_out"),
        min(col("z")).as("min_z"),
        max(col("z")).as("max_z"))
      .orderBy(col("lang"))
  }

  /** daily top-2 trending event types: the rank window runs on the
    * (day, type) AGGREGATE (|days|·|types| rows), never the event log.
    */
  def q115_daily_top_types(s: SparkSession, dir: String): DataFrame = {
    val d = Tables(s, dir, "events")
      .groupBy(date_trunc("day", col("ts")).as("d"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("d"))
      .orderBy(col("n").desc, col("event_type"))
    d.withColumn("rnk", rank().over(w).cast("long"))
      .filter(col("rnk") <= 2)
      .orderBy(col("d"), col("rnk"), col("event_type"))
  }

  /** hour-of-day × type activity heatmap — one aggregation pass. The
    * value stat is the exact MEDIAN, not the mean: a mean's summation
    * order differs between engines (1-ulp drift → a round-4 half-boundary
    * flipped at sf0.001), while the sort-based interpolated percentile is
    * order-independent and engine-exact (q85 precedent).
    */
  def q116_hourly_heatmap(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "events")
      .groupBy(hour(col("ts")).cast("long").as("hr"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        round(percentile(col("value"), lit(0.5)), 4).as("med_value"))
      .orderBy(col("hr"), col("event_type"))

  /** revenue of lineitems belonging to urgent high-value orders, with the
    * fact side Bloom-pruned before the semi join — output identical to
    * the plain `WHERE EXISTS` (the oracle).
    */
  def q118_bloom_semijoin(s: SparkSession, dir: String): DataFrame = {
    val hot = Tables(s, dir, "orders")
      .filter(col("o_orderpriority") === "1-URGENT" &&
        col("o_totalprice") > 150000)
      .select(col("o_orderkey"))
    Joins.bloomPrunedSemiJoin(Tables(s, dir, "lineitem"), hot,
        "l_orderkey", "o_orderkey")
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4)
          .as("rev"))
      .orderBy(col("l_returnflag"))
  }

  /* q126's KLL-style percentile_approx estimates have no
   * DuckDB-reproducible form → rows-only with a hard rank-error
   * assertion in [[VerifyAssertions]].
   */

  private def rev: Column =
    col("l_extendedprice") * (lit(1) - col("l_discount"))

  /** TPC-H Q7-shape "volume shipping": revenue between a nation pair by
    * ship year, both directions. Scale shape: the two big sides
    * (lineitem⋈orders⋈customer) shuffle on their join keys; nation and
    * supplier are broadcast dims, and the nation-pair filter prunes
    * before the expensive shuffles (predicate pushdown through the
    * broadcast joins), so the keyed shuffles carry only the pair's rows.
    */
  def q120_volume_shipping(s: SparkSession, dir: String): DataFrame = {
    val li = Tables(s, dir, "lineitem")
      .filter(col("l_shipdate") >= "1996-01-01" &&
        col("l_shipdate") < "1998-01-01")
    val suppNation = Tables(s, dir, "supplier")
      .join(broadcast(Tables(s, dir, "nation")),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name").as("supp_nation"))
    val custNation = Tables(s, dir, "customer")
      .join(broadcast(Tables(s, dir, "nation")),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("n_name").as("cust_nation"))
    li.join(Tables(s, dir, "orders"), col("o_orderkey") === col("l_orderkey"))
      .join(broadcast(suppNation), col("s_suppkey") === col("l_suppkey"))
      .join(custNation, col("c_custkey") === col("o_custkey"))
      .filter((col("supp_nation") === "NATION_1" &&
          col("cust_nation") === "NATION_2") ||
        (col("supp_nation") === "NATION_2" &&
          col("cust_nation") === "NATION_1"))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).as("l_year"))
      .agg(count(lit(1)).as("n"), round(sum(rev), 4).as("revenue"))
      .orderBy(col("supp_nation"), col("cust_nation"), col("l_year"))
  }

  /** TPC-H Q14-shape promo revenue share by month: conditional aggregate
    * over a fact⋈dim join — part broadcasts, one shuffle for the monthly
    * rollup (map-side combinable).
    */
  def q121_promo_share(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "lineitem")
      .filter(col("l_shipdate") >= "1996-01-01" &&
        col("l_shipdate") < "1998-01-01")
      .join(broadcast(Tables(s, dir, "part")),
        col("p_partkey") === col("l_partkey"))
      .groupBy(date_trunc("month", col("l_shipdate")).as("mon"))
      .agg(
        round(lit(100.0) *
          sum(when(col("p_type") === "PROMO", rev).otherwise(lit(0.0))) /
          sum(rev), 4).as("promo_share"),
        round(sum(rev), 4).as("rev"))
      .orderBy(col("mon"))

  /** TPC-H Q16-shape supplier panel: distinct suppliers per (brand, type)
    * for mid-size parts, EXCLUDING a supplier blocklist via `NOT IN` —
    * the null-aware anti join shape (Spark plans a broadcast null-aware
    * anti join for the single-key NOT IN; the blocklist is tiny). The
    * count-distinct shuffles once on the group keys with partial
    * distinct aggregation upstream.
    */
  def q122_supplier_panel(s: SparkSession, dir: String): DataFrame = {
    val blocked = Tables(s, dir, "supplier")
      .filter(col("s_acctbal") < 500).select(col("s_suppkey"))
    Tables(s, dir, "part").filter(col("p_size") >= 5)
      .join(Tables(s, dir, "lineitem"), col("l_partkey") === col("p_partkey"))
      // null-aware NOT IN via the API: l_suppkey is non-nullable in the
      // data, so LeftAnti on equality is exactly NOT IN here; the plan
      // audit pins the anti join + broadcast
      .join(broadcast(blocked), col("l_suppkey") === col("s_suppkey"),
        "left_anti")
      .groupBy(col("p_brand"), col("p_type"))
      .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
      .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"))
  }

  /** TPC-H Q22-shape idle high-balance customers: scalar aggregate
    * threshold (1-row broadcast, NOT a driver collect) + anti join
    * against recent orders, rolled up by segment.
    */
  def q123_idle_customers(s: SparkSession, dir: String): DataFrame = {
    val cust = Tables(s, dir, "customer")
    val bar = cust.filter(col("c_acctbal") > 0)
      .agg(avg(col("c_acctbal")).as("__bar"))
    val recent = Tables(s, dir, "orders")
      .filter(col("o_orderdate") >= "1999-01-01")
      .select(col("o_custkey"))
    cust.join(broadcast(bar))
      .filter(col("c_acctbal") > col("__bar"))
      .join(recent, col("o_custkey") === col("c_custkey"), "left_anti")
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("numcust"),
        round(sum(col("c_acctbal")), 4).as("totbal"))
      .orderBy(col("c_mktsegment"))
  }

  /** TPC-H Q15-shape top supplier: quarterly revenue per supplier, keep
    * the max-revenue row(s) via a 1-row broadcast of the global max —
    * no single-partition window. Ties kept (Q15 semantics).
    *
    * Max MEMBERSHIP compares EXACT decimal sums, not rounded doubles:
    * price·(1−disc) is exactly a 4-decimal value (2+2 digits), so
    * casting each term to decimal(18,4) recovers the grid point exactly
    * (the double is within ~1 ulp of it, the grid half-step is 5e-5 —
    * no boundary exists) and the decimal SUM is order-independent and
    * engine-exact. A rounded-double max equality is the q116 half-even
    * hazard applied to row MEMBERSHIP — 1-ulp summation drift between
    * engines could flip which rows tie the max. Output casts back to
    * double (same exact decimal on both sides → same double).
    */
  def q124_top_supplier(s: SparkSession, dir: String): DataFrame = {
    val revq = Tables(s, dir, "lineitem")
      .filter(col("l_shipdate") >= "1996-01-01" &&
        col("l_shipdate") < "1996-04-01")
      .groupBy(col("l_suppkey"))
      .agg(sum(rev.cast("decimal(18,4)")).as("__rev_d"))
    val mx = revq.agg(max(col("__rev_d")).as("__mx"))
    revq.join(broadcast(mx), col("__rev_d") === col("__mx"))
      .join(broadcast(Tables(s, dir, "supplier")),
        col("s_suppkey") === col("l_suppkey"))
      .select(col("s_suppkey"), col("s_name"),
        col("__rev_d").cast("double").as("total_rev"))
      .orderBy(col("s_suppkey"))
  }

  /** Mergeable approximate-quantile panel (percentile_approx ≈ a
    * Greenwald–Khanna/KLL-style sketch): p50/p90/p99 of extended price
    * per return flag at accuracy 10⁴. At 100 TB this is THE quantile
    * shape — sketches merge map-side, no global sort; the exact
    * percentile operators stay for small relations. Rows-only (the
    * sketch isn't DuckDB-reproducible); [[VerifyAssertions]] bounds the
    * exact rank error of every returned value by the sketch's n/accuracy
    * guarantee.
    */
  def q126_quantile_sketch(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(percentile_approx(col("l_extendedprice"),
        array(lit(0.5), lit(0.9), lit(0.99)), lit(10000)).as("qs"))
      .select(col("l_returnflag"),
        col("qs")(0).as("p50"), col("qs")(1).as("p90"),
        col("qs")(2).as("p99"))
      .orderBy(col("l_returnflag"))

  /* Float-sum parity notes: revenue sums ride the q124 decimal-grid rule
   * (`price·(1−disc)` is exactly 4-decimal, so a decimal(18,4) sum is
   * order-independent and engine-exact); q133's robust-z divides exact
   * percentile values (Spark `percentile` == DuckDB `quantile_cont`,
   * q85/q86 precedent) with identical parenthesization on both sides;
   * q134's centroids are order-pinned left folds so every score both
   * engines compare is bit-identical (see [[graft.operators.Clustering]]).
   */

  /** TPC-H Q17 silhouette: revenue locked in small-quantity orders of
    * one brand — each lineitem compares against 20 % of ITS part's
    * average quantity. Scale shape: the brand cut broadcasts into the
    * lineitem scan, the per-part averages aggregate over that filtered
    * slice only (semi-join-pruned, not all parts), and the thresholds
    * broadcast back; the filtered slice is localCheckpointed because
    * both the average and the final cut consume it (the AQE
    * branch-re-execution lesson). l_quantity is integer-valued so the
    * averages are exact in double on both engines.
    */
  def q130_small_qty_revenue(s: SparkSession, dir: String): DataFrame = {
    val brandParts = Tables(s, dir, "part")
      .filter(col("p_brand") === "Brand#4")
      .select(col("p_partkey"))
    val li = Tables(s, dir, "lineitem")
      .join(broadcast(brandParts), col("l_partkey") === col("p_partkey"))
      .select(col("l_partkey"), col("l_quantity"), col("l_extendedprice"))
      .localCheckpoint()
    val lim = li.groupBy(col("l_partkey"))
      .agg((lit(0.2) * avg(col("l_quantity"))).as("__lim"))
      .withColumnRenamed("l_partkey", "__pk")
    li.join(broadcast(lim), col("l_partkey") === col("__pk"))
      .filter(col("l_quantity") < col("__lim"))
      .agg(
        round(sum(col("l_extendedprice").cast("decimal(18,4)"))
          .cast("double") / 7.0, 4).as("avg_weekly"),
        count(lit(1)).as("n_small"))
  }

  /** TPC-H Q19 silhouette: disjunctive join predicate (brand × size ×
    * quantity bands OR-ed together). Catalyst extracts the common
    * `p_partkey = l_partkey` equi-key for the hash join and derives
    * per-side pushed filters from the disjunction — the plan stays a
    * broadcast hash join with both scans pre-filtered, never a BNL
    * (plan-audited).
    */
  def q131_disjunctive_join(s: SparkSession, dir: String): DataFrame = {
    val band1 = col("p_brand") === "Brand#4" &&
      col("p_size").between(1, 15) && col("l_quantity").between(1, 15)
    val band2 = col("p_brand") === "Brand#17" &&
      col("p_size").between(10, 30) && col("l_quantity").between(10, 30)
    val band3 = col("p_brand") === "Brand#19" &&
      col("p_size").between(20, 50) && col("l_quantity").between(25, 50)
    Tables(s, dir, "lineitem")
      .join(Tables(s, dir, "part"),
        col("p_partkey") === col("l_partkey") && (band1 || band2 || band3))
      .agg(
        round(sum(rev.cast("decimal(18,4)")).cast("double"), 4).as("revenue"),
        count(lit(1)).as("n_rows"))
  }

  /** TPC-H Q21 silhouette: suppliers who shipped last on multi-supplier
    * finalized orders (l_shipdate 60+ days past the order date, another
    * supplier on the order, nobody shipped later). The `<>`-correlated
    * EXISTS / NOT EXISTS decorrelate into a semi and an anti join on
    * `l_orderkey` with residual non-equi conditions — same-table
    * self-semi-joins, all keyed, no BNL.
    *
    * MEASURED NEGATIVE RESULT (don't redo): the classical Q21
    * "aggregate rewrite" — reduce lineitem to per-(order, supplier) max
    * shipdates, keep the per-order top-2, join the late subset back —
    * ran 2× SLOWER at sf10 (steady 17.5 s vs 8.8 s, TimeQ ×4). In this
    * data model suppliers are ~unique per order, so the (order, supp)
    * grouping does NOT reduce mass: the rewrite pays two full-mass
    * shuffles with struct payloads + a collect_list sort, while the
    * decorrelated plan shuffles narrow rows through keyed semi/anti
    * joins. The rewrite only wins when per-key multiplicity is high —
    * measure at deployment scale before swapping plan shapes (the q92
    * hand-vs-scaled lesson).
    */
  def q132_waiting_suppliers(s: SparkSession, dir: String): DataFrame = {
    GraftSession.init(s)
    Tables.registerAll(s, dir)
    s.sql(
      """SELECT s_name, count(*) AS numwait
        |FROM supplier, lineitem l1, orders o
        |WHERE s_suppkey = l1.l_suppkey AND o.o_orderkey = l1.l_orderkey
        |  AND o.o_orderstatus = 'F'
        |  AND l1.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
        |  AND EXISTS (SELECT 1 FROM lineitem l2
        |              WHERE l2.l_orderkey = l1.l_orderkey
        |                AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
        |              WHERE l3.l_orderkey = l1.l_orderkey
        |                AND l3.l_suppkey <> l1.l_suppkey
        |                AND l3.l_shipdate > l1.l_shipdate)
        |GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 20""".stripMargin)
  }

  /** Robust outliers by median absolute deviation per event type:
    * |x − median| > 3·1.4826·MAD (the normal-consistent robust z).
    * Medians are exact percentiles (order-independent, engine-exact),
    * the per-type model is a broadcast, and the flagging pass is a
    * single filter projection — two aggregation passes over events,
    * the classical robust-statistics shape that, unlike mean/stddev,
    * doesn't let the outliers poison the model they're flagged against.
    */
  def q133_mad_outliers(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables(s, dir, "events")
    val med = ev.groupBy(col("event_type"))
      .agg(percentile(col("value"), lit(0.5)).as("__m"))
    val mad = ev.join(broadcast(med), "event_type")
      .groupBy(col("event_type"), col("__m"))
      .agg(percentile(abs(col("value") - col("__m")), lit(0.5)).as("__mad"))
    ev.join(broadcast(mad), "event_type")
      .filter(abs(col("value") - col("__m")) >
        lit(3) * (lit(1.4826) * col("__mad")))
      .select(col("event_id"), col("event_type"),
        round(col("value"), 4).as("value"),
        round((col("value") - col("__m")) /
          (lit(1.4826) * col("__mad")), 4).as("robust_z"))
      .orderBy(col("event_id"))
  }

  /* Float parity: every revenue sum rides the decimal(18,4) grid rule
   * (q124/q130 precedent — `price·(1−disc)` is exactly 4-decimal, so
   * decimal sums are order-independent and engine-exact, and ORDER BY /
   * HAVING decisions are made on the exact decimal, with doubles only in
   * the displayed projection). q140's argmin key is `min` over per-row
   * double divisions (order-independent, correctly rounded — exact both
   * engines); q143's thresholds are integer compares (no float boundary
   * at all); q144's OLS sums are the one place summation order drifts,
   * guarded by round(4) and verified at every oracle SF.
   */

  /** TPC-H Q3 silhouette (shipping priority): revenue still shippable
    * after the cutoff for one market segment, top 10 orders. Scale
    * shape: both fact scans are date-pruned before the only big join
    * (orderkey-keyed shuffle); the segment cut on customer flows into
    * orders first so lineitem joins an already-thinned order set; the
    * top-10 is decided on the EXACT decimal revenue (TakeOrdered, no
    * global sort), doubles appear only in the final projection.
    */
  def q136_shipping_priority(s: SparkSession, dir: String): DataFrame = {
    val cut = expr("TIMESTAMP '1998-07-01'")
    val cust = Tables(s, dir, "customer")
      .filter(col("c_mktsegment") === "BUILDING").select(col("c_custkey"))
    val ord = Tables(s, dir, "orders").filter(col("o_orderdate") < cut)
      .join(cust, col("o_custkey") === col("c_custkey"))
      .select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
    val li = Tables(s, dir, "lineitem").filter(col("l_shipdate") > cut)
      .select(col("l_orderkey"), rev.cast("decimal(18,4)").as("__r"))
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .agg(sum(col("__r")).as("__rev"))
      .orderBy(col("__rev").desc, col("l_orderkey"))
      .limit(10)
      .select(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"),
        round(col("__rev").cast("double"), 4).as("revenue"))
  }

  /** TPC-H Q10 silhouette (returned items): top-20 customers by revenue
    * lost to returns in one half-year. The revenue aggregate collapses
    * to one row per customer BEFORE the customer/nation attributes join
    * on (pre-aggregate, then decorate — the join carries ~|customers|
    * rows, not ~|lineitem|); top-20 on the exact decimal.
    */
  def q137_returned_items(s: SparkSession, dir: String): DataFrame = {
    val nat = Tables(s, dir, "nation")
      .select(col("n_nationkey"), col("n_name"))
    val cust = Tables(s, dir, "customer").join(broadcast(nat),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("c_name"), col("n_name"),
        col("c_acctbal"))
    val ord = Tables(s, dir, "orders")
      .filter(col("o_orderdate") >= expr("TIMESTAMP '1997-01-01'") &&
        col("o_orderdate") < expr("TIMESTAMP '1997-07-01'"))
      .select(col("o_orderkey"), col("o_custkey"))
    val li = Tables(s, dir, "lineitem").filter(col("l_returnflag") === "R")
      .select(col("l_orderkey"), rev.cast("decimal(18,4)").as("__r"))
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_custkey")).agg(sum(col("__r")).as("__rev"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .orderBy(col("__rev").desc, col("c_custkey"))
      .limit(20)
      .select(col("c_custkey"), col("c_name"), col("n_name"),
        round(col("c_acctbal"), 4).as("acctbal"),
        round(col("__rev").cast("double"), 4).as("revenue"))
  }

  /** TPC-H Q11 silhouette (important parts): per-part revenue through
    * one region's suppliers, kept when above 1.5× the mean part value —
    * the global-scalar HAVING shape. The per-part aggregate is
    * localCheckpointed (it feeds both the 1-row total and the filter —
    * the AQE branch-re-execution lesson), and the total rides a 1-row
    * broadcast nested loop (q124 precedent). The threshold is relative
    * to the MEAN part value, not a fixed share — a fixed share of total
    * shrinks per-part as the part universe grows and returns nothing at
    * 10× scale (measured: 270 rows at sf0.01, 0 at sf0.1 with share
    * 0.0008; the mean-relative form scales 14 → 331 → 2922).
    */
  def q138_important_parts(s: SparkSession, dir: String): DataFrame = {
    val natEur = Tables(s, dir, "nation").join(
        broadcast(Tables(s, dir, "region").filter(col("r_name") === "EUROPE")),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey"))
    val sup = Tables(s, dir, "supplier").join(broadcast(natEur),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"))
    val pv = Tables(s, dir, "lineitem")
      .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
      .select(col("l_partkey"), rev.cast("decimal(18,4)").as("__r"))
      .groupBy(col("l_partkey")).agg(sum(col("__r")).as("__v"))
      .localCheckpoint()
    val tot = pv.agg(sum(col("__v")).as("__t"), count(lit(1)).as("__np"))
    pv.crossJoin(broadcast(tot))
      .filter(col("__v").cast("double") >
        lit(1.5) * (col("__t").cast("double") / col("__np")))
      .orderBy(col("__v").desc, col("l_partkey"))
      .select(col("l_partkey"),
        round(col("__v").cast("double"), 4).as("value"))
  }

  /** TPC-H Q13 silhouette (customer distribution): orders-per-customer
    * histogram including the zero-order customers — the left-join +
    * double-aggregation shape. The priority cut lives on the orders
    * side of the left join (pre-filtered, so nulls mean "no qualifying
    * order", not "no order row"). Integer counts end to end.
    */
  def q139_custdist(s: SparkSession, dir: String): DataFrame = {
    val ord = Tables(s, dir, "orders")
      .filter(col("o_orderpriority") =!= "4-NOT SPECIFIED")
      .select(col("o_custkey"), col("o_orderkey"))
    Tables(s, dir, "customer").select(col("c_custkey"))
      .join(ord, col("c_custkey") === col("o_custkey"), "left")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy(col("c_count")).agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)
  }

  /** TPC-H Q2 silhouette (min-cost supplier): for each part of one
    * brand, the region supplier quoting the lowest unit price —
    * the correlated-min subquery, decorrelated the way Catalyst would:
    * per-(part, supplier) min aggregate, per-part min of that, equality
    * join-back on the min, ties broken by supplier key. The (part,supp)
    * aggregate is localCheckpointed (feeds both the min and the
    * join-back). The argmin key is `min` over per-row double divisions:
    * order-independent and correctly rounded, so the double equality
    * join-back is exact on both engines.
    */
  def q140_min_cost_supplier(s: SparkSession, dir: String): DataFrame = {
    val natAsia = Tables(s, dir, "nation").join(
        broadcast(Tables(s, dir, "region").filter(col("r_name") === "ASIA")),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey"), col("n_name"))
    val sup = Tables(s, dir, "supplier").join(broadcast(natAsia),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("s_name"), col("n_name"))
    val cost = Tables(s, dir, "lineitem")
      .join(broadcast(sup.select(col("s_suppkey"))),
        col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(min(col("l_extendedprice") / col("l_quantity")).as("__c"))
      .localCheckpoint()
    val mn = cost.groupBy(col("l_partkey")).agg(min(col("__c")).as("__mc"))
      .withColumnRenamed("l_partkey", "__pk")
    val parts = Tables(s, dir, "part").filter(col("p_brand") === "Brand#4")
      .select(col("p_partkey"))
    val w = Window.partitionBy(col("p_partkey")).orderBy(col("l_suppkey"))
    cost.join(mn, col("l_partkey") === col("__pk") &&
        col("__c") === col("__mc"))
      .join(broadcast(parts), col("l_partkey") === col("p_partkey"))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
      .select(col("p_partkey"), col("s_name"), col("n_name"),
        round(col("__c"), 4).as("unit_cost"))
      .orderBy(col("p_partkey"))
  }

  /** TPC-H Q12 silhouette (late shipments by priority class): per
    * return-flag counts of late lines split by order priority — the
    * join + conditional two-way count shape. One orderkey-keyed join
    * with the lateness predicate as the join residual; integer counts.
    */
  def q141_late_lines(s: SparkSession, dir: String): DataFrame = {
    val ord = Tables(s, dir, "orders")
      .select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
    val high = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    Tables(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_returnflag"), col("l_shipdate"))
      .join(ord, col("l_orderkey") === col("o_orderkey") &&
        col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 45 DAY"))
      .groupBy(col("l_returnflag"))
      .agg(count(when(high, 1)).as("high_line_count"),
        count(when(!high, 1)).as("low_line_count"))
      .orderBy(col("l_returnflag"))
  }

  /** TPC-H Q8 silhouette (market share): of all lineitems sold to one
    * region's customers, the yearly revenue share supplied by one
    * nation's suppliers. Star shape: dims (nation, region, the
    * region-filtered customer keys' nation table, supplier decoration)
    * broadcast; the two fact joins (orders, customer filter) stay
    * keyed. The share divides two exact decimal sums cast to double —
    * one correctly-rounded division per year, engine-exact.
    */
  def q145_market_share(s: SparkSession, dir: String): DataFrame = {
    val natAm = Tables(s, dir, "nation").join(
        broadcast(Tables(s, dir, "region").filter(col("r_name") === "AMERICA")),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey"))
    val cust = Tables(s, dir, "customer").join(broadcast(natAm),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"))
    val sup = Tables(s, dir, "supplier").join(
        broadcast(Tables(s, dir, "nation")
          .select(col("n_nationkey").as("__snk"), col("n_name"))),
        col("s_nationkey") === col("__snk"))
      .select(col("s_suppkey"), col("n_name"))
    val ord = Tables(s, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"),
        year(col("o_orderdate")).as("yr"))
    Tables(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_suppkey"),
        rev.cast("decimal(18,4)").as("__r"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("yr"))
      .agg(
        round(sum(when(col("n_name") === "NATION_3", col("__r"))
            .otherwise(lit(0).cast("decimal(18,4)"))).cast("double") /
          sum(col("__r")).cast("double"), 6).as("mkt_share"),
        count(lit(1)).as("n_lines"))
      .orderBy(col("yr"))
  }

  /* Float parity: q147 rides the decimal grid; q148's teleport term is
   * spelled `(1.0 - 0.85)` on BOTH engines (the constant `0.15` is a
   * DIFFERENT double — see [[graft.operators.Graph.pageRank]]), its
   * output is ordered by node id (never by float rank), and rounding
   * sits 7 orders above summation drift; q149 spells the Pearson closed
   * form identically on both sides; q150/q151 divide exact integers;
   * q151's Benford expectations are `log10` of 9 fixed rationals whose
   * round-4 boundary distance (min 2.5e-6) dwarfs any libm last-ulp
   * divergence.
   */

  /** TPC-H Q4 (order priority checking): orders from one half-year
    * with at least one line shipped 60+ days late, counted by
    * priority. The correlated EXISTS is a single left-semi join with
    * the lateness predicate as the join residual — the date cut prunes
    * orders before the only shuffle.
    */
  def q146_priority_check(s: SparkSession, dir: String): DataFrame = {
    val ord = Tables(s, dir, "orders")
      .filter(col("o_orderdate") >= expr("TIMESTAMP '1996-01-01'") &&
        col("o_orderdate") < expr("TIMESTAMP '1996-07-01'"))
    val li = Tables(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_shipdate"))
    ord.join(li, col("o_orderkey") === col("l_orderkey") &&
        col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAY"),
        "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("order_count"))
      .orderBy(col("o_orderpriority"))
  }

  /** TPC-H Q6 (forecasting revenue change): pure scan-filter-agg —
    * the query whose whole plan should be one WholeStageCodegen span
    * over a pushed-down scan. Revenue on the exact decimal grid
    * (price 2-dec × discount 2-dec = exactly 4-dec).
    */
  def q147_forecast_revenue(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "lineitem")
      .filter(col("l_shipdate") >= expr("TIMESTAMP '1997-01-01'") &&
        col("l_shipdate") < expr("TIMESTAMP '1998-01-01'") &&
        col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
      .agg(
        round(sum((col("l_extendedprice") * col("l_discount"))
          .cast("decimal(18,6)")).cast("double"), 4).as("revenue"),
        count(lit(1)).as("n_lines"))

  /** Pearson correlation panel over lineitem measures, the spelled-out
    * closed form `(nΣxy − ΣxΣy) / (√(nΣx²−(Σx)²)·√(nΣy²−(Σy)²))` —
    * ONE combinable aggregation pass computes all ten sufficient sums;
    * `corr()` built-ins use engine-specific streaming formulations
    * that agree only approximately across engines, the manual form
    * agrees to summation order.
    */
  def q149_corr_panel(s: SparkSession, dir: String): DataFrame = {
    val q = col("l_quantity"); val p = col("l_extendedprice")
    val d = col("l_discount")
    def pearson(n: org.apache.spark.sql.Column,
        sx: org.apache.spark.sql.Column, sy: org.apache.spark.sql.Column,
        sxy: org.apache.spark.sql.Column, sxx: org.apache.spark.sql.Column,
        syy: org.apache.spark.sql.Column) =
      (n * sxy - sx * sy) /
        (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy))
    Tables(s, dir, "lineitem")
      .agg(count(lit(1)).as("n"), sum(q).as("sq"), sum(p).as("sp"),
        sum(d).as("sd"), sum(q * q).as("sqq"), sum(p * p).as("spp"),
        sum(d * d).as("sdd"), sum(q * p).as("sqp"), sum(q * d).as("sqd"),
        sum(p * d).as("spd"))
      .select(col("n"),
        round(pearson(col("n"), col("sq"), col("sp"), col("sqp"),
          col("sqq"), col("spp")), 4).as("r_qty_price"),
        round(pearson(col("n"), col("sq"), col("sd"), col("sqd"),
          col("sqq"), col("sdd")), 4).as("r_qty_disc"),
        round(pearson(col("n"), col("sp"), col("sd"), col("spd"),
          col("spp"), col("sdd")), 4).as("r_price_disc"))
  }

  /** Markov transition matrix over per-user event streams: lag over
    * the (ts, event_id)-ordered stream inside each user partition (ONE
    * user-keyed shuffle), then transition counts and row-normalized
    * probabilities — the behavioral-sequence model of a product
    * analytics pipeline. Probabilities divide exact integers.
    */
  def q150_event_transitions(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val tr = Tables(s, dir, "events")
      .withColumn("prev", lag(col("event_type"), 1).over(w))
      .filter(col("prev").isNotNull)
      .groupBy(col("prev").as("from_type"),
        col("event_type").as("to_type"))
      .agg(count(lit(1)).as("n"))
      .localCheckpoint() // feeds both the totals and the final join
    val tot = tr.groupBy(col("from_type")).agg(sum(col("n")).as("__tn"))
    tr.join(broadcast(tot), "from_type")
      .select(col("from_type"), col("to_type"), col("n"),
        round(col("n").cast("double") / col("__tn"), 4).as("p"))
      .orderBy(col("from_type"), col("to_type"))
  }

  /** Benford first-digit panel over order totals: observed share per
    * leading digit vs the Benford expectation log10(1+1/d) — the
    * fabricated-data smoke test of a data-quality suite. The digit is
    * taken from the INTEGER cents string (a double's decimal rendering
    * is engine-specific; a bigint's is not), shares divide exact
    * integers, and the 9 expectation values sit ≥ 2.5e-6 from their
    * round-4 boundaries — far beyond libm divergence.
    */
  def q151_benford(s: SparkSession, dir: String): DataFrame = {
    val dig = Tables(s, dir, "orders")
      .filter(col("o_totalprice") > 0)
      .select(substring(round(col("o_totalprice") * 100)
        .cast("long").cast("string"), 1, 1).cast("int").as("d"))
      .groupBy(col("d")).agg(count(lit(1)).as("cnt"))
      .localCheckpoint() // feeds both the total and the final select
    val tot = dig.agg(sum(col("cnt")).as("__n"))
    dig.crossJoin(broadcast(tot))
      .select(col("d"), col("cnt"),
        round(col("cnt").cast("double") / col("__n"), 4).as("share"),
        round(log10(lit(1.0) + lit(1.0) / col("d")), 4).as("expected"))
      .orderBy(col("d"))
  }

  /** Key-integrity audit: declared-key row/distinct counts per table —
    * the "is this key actually unique" data-quality panel (in this
    * testdata, (l_orderkey, l_linenumber) is NOT unique — the audit
    * shows it instead of silently assuming). One combinable aggregate
    * per table, 4-row output.
    */
  def q152_key_audit(s: SparkSession, dir: String): DataFrame = {
    def audit(name: String, df: DataFrame, keys: Seq[String]) =
      df.agg(count(lit(1)).as("n_rows"),
          countDistinct(col(keys.head), keys.tail.map(col): _*)
            .as("n_keys"))
        .select(lit(name).as("entity"), col("n_rows"), col("n_keys"),
          (col("n_rows") - col("n_keys")).as("dup_rows"))
    audit("customer", Tables(s, dir, "customer"), Seq("c_custkey"))
      .unionAll(audit("events", Tables(s, dir, "events"), Seq("event_id")))
      .unionAll(audit("lineitem", Tables(s, dir, "lineitem"),
        Seq("l_orderkey", "l_linenumber")))
      .unionAll(audit("orders", Tables(s, dir, "orders"), Seq("o_orderkey")))
      .orderBy(col("entity"))
  }

  /* Float parity notes: q154 subtracts two decimal casts per line and
   * sums DECIMAL (order-independent, exact — the q130 revenue
   * pattern); q156/q157 window-sum DECIMALs so frame/segment-tree
   * summation order cannot drift (DuckDB's windowed sum is exact
   * hugeint arithmetic, Spark's decimal sum is exact java BigDecimal —
   * a double window-sum would be order-DEPENDENT and engine-divergent);
   * q157/q159 then cast the exact sums to double once and spell the
   * z formulas with identical parenthesization on both engines; q158
   * is pure integers.
   */

  /** TPC-H Q9 silhouette (product-type profit): per supplier-nation and
    * order-year profit over one part family. The schema has no
    * partsupp, so line cost is the 6 % retailprice surrogate —
    * `0.06·p_retailprice·l_quantity` — keeping Q9's shape: a 5-way
    * join (three broadcast dims + the orders keyed join) feeding a
    * two-key aggregate. Both terms are cast to DECIMAL(18,6) per line
    * (exactly representable: price×(1−disc) is 4-dec, the cost
    * surrogate 3-dec, double error ~1e-10 ≪ the 5e-7 cast quantum) so
    * the grouped sum is exact and order-independent on both engines.
    */
  def q154_product_profit(s: SparkSession, dir: String): DataFrame = {
    val parts = Tables(s, dir, "part").filter(col("p_name").contains("bolt"))
      .select(col("p_partkey"), col("p_retailprice"))
    val li = Tables(s, dir, "lineitem")
      .join(broadcast(parts), col("l_partkey") === col("p_partkey"))
      .join(broadcast(Tables(s, dir, "supplier")
          .select(col("s_suppkey"), col("s_nationkey"))),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(Tables(s, dir, "nation")
          .select(col("n_nationkey"), col("n_name"))),
        col("s_nationkey") === col("n_nationkey"))
      .join(Tables(s, dir, "orders")
          .select(col("o_orderkey"), col("o_orderdate")),
        col("l_orderkey") === col("o_orderkey"))
    // sum_profit stays UNROUNDED: the decimal sum is grid-exact, so
    // round(·,2) of a .xx50 cell is the q157/q116 half-boundary hazard
    // (Spark rounds the shortest decimal repr HALF_UP, DuckDB the raw
    // double — they disagree exactly on grid points)
    li.groupBy(col("n_name").as("nation"),
        year(col("o_orderdate")).as("o_year"))
      .agg(sum(
        (col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast("decimal(18,6)") -
        (lit(0.06) * col("p_retailprice") * col("l_quantity"))
          .cast("decimal(18,6)")).cast("double").as("sum_profit"))
      .orderBy(col("nation"), col("o_year"))
  }

  /** TPC-H Q20 silhouette (potential part promotion): suppliers who
    * shipped more than 30 units of any one "small" part during 1997 —
    * the nested per-(supplier, part) quantity aggregate feeding a
    * semi-join back to the supplier dimension. The aggregate's HAVING
    * prunes before the (tiny) semi-join side is built; integral-double
    * quantities sum exactly on both engines.
    */
  def q155_promotion_suppliers(s: SparkSession, dir: String): DataFrame = {
    val promo = Tables(s, dir, "lineitem")
      .filter(col("l_shipdate") >= expr("TIMESTAMP '1997-01-01'") &&
        col("l_shipdate") < expr("TIMESTAMP '1998-01-01'"))
      .join(broadcast(Tables(s, dir, "part")
          .filter(col("p_name").startsWith("small"))
          .select(col("p_partkey"))),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("l_suppkey"), col("l_partkey"))
      .agg(sum(col("l_quantity")).as("__q"))
      .filter(col("__q") > 30)
      .select(col("l_suppkey")).distinct()
    Tables(s, dir, "supplier")
      .join(broadcast(Tables(s, dir, "nation")
          .select(col("n_nationkey"), col("n_name"))),
        col("s_nationkey") === col("n_nationkey"))
      .join(promo, col("s_suppkey") === col("l_suppkey"), "left_semi")
      .select(col("s_suppkey"), col("s_name"), col("n_name").as("nation"))
      .orderBy(col("s_suppkey"))
  }

  /** Rolling 7-day anomaly panel over daily shipped revenue: trailing
    * mean/variance from DECIMAL-exact window sums (Σx, Σx², both
    * order-independent — a double window sum would hit engine
    * summation-order drift), z spelled from the sufficient sums with
    * identical parenthesization on both engines (the q149 discipline).
    * Windows partition by calendar year (panel resets annually — the
    * first 6 days of each year have no score; no single-partition
    * WindowExec at any scale). Assumes daily revenue < 1e12 (the
    * post-sum decimal(18,6) down-cast; ~3 orders above sf10) — see
    * the inline note on why the down-cast is what KEEPS the squares
    * engine-exact.
    */
  def q157_rolling_anomaly(s: SparkSession, dir: String): DataFrame = {
    // the SUM comes out decimal(28,6) (Spark) / decimal(38,6) (DuckDB);
    // squaring THOSE would overflow 38 digits and silently round the
    // products to 6 dp on Spark (precision-loss adjustment) while
    // DuckDB keeps 12 — engine-DIVERGENT. Down-casting to (18,6) first
    // (exact while daily revenue < 1e12, ~3 orders above sf10) keeps
    // the squares at (37,12)/(36,12): exact 12-dp on BOTH engines.
    val daily = Tables(s, dir, "lineitem")
      .groupBy(date_trunc("DAY", col("l_shipdate")).as("d"))
      .agg(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
        .cast("decimal(18,6)")).cast("decimal(18,6)").as("rev"))
    val w = Window.partitionBy(year(col("d"))).orderBy(col("d"))
      .rowsBetween(-6, Window.currentRow)
    daily
      .withColumn("__c", count(lit(1)).over(w))
      .withColumn("__s1", sum(col("rev")).over(w).cast("double"))
      .withColumn("__s2", sum(col("rev") * col("rev")).over(w)
        .cast("double"))
      .filter(col("__c") === 7 &&
        (lit(7) * col("__s2") - col("__s1") * col("__s1")) > 0)
      .select(col("d"), col("rev").cast("double").as("revenue"),
        round((col("rev").cast("double") - col("__s1") / lit(7)) /
          sqrt((lit(7) * col("__s2") - col("__s1") * col("__s1")) /
            lit(42)), 4).as("z"))
      .orderBy(col("d"))
  }

  /** Deterministic A/B two-proportion z-test: users hash-split into
    * arms by md5 first hex digit (the q54 content-split trick — stable
    * across runs/partitionings on both engines), conversion = any
    * purchase with value > 180, pooled-variance z from exact integer
    * counts (the double formula is spelled identically on both
    * engines). Two distinct-aggregates + a 2-row pivot; nothing
    * corpus-sized crosses the wire after the per-user dedup shuffle.
    */
  def q159_ab_test(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables(s, dir, "events")
    val arms = ev.select(col("user_id")).distinct()
      .withColumn("arm",
        when(substring(md5(col("user_id").cast("string")), 1, 1) < "8",
          "a").otherwise("b"))
    val conv = ev
      .filter(col("event_type") === "purchase" && col("value") > 180)
      .select(col("user_id")).distinct()
      .withColumn("__c", lit(1))
    val per = arms.join(conv, Seq("user_id"), "left")
      .groupBy(col("arm"))
      .agg(count(lit(1)).as("n"), count(col("__c")).as("k"))
    val wide = per.agg(
      max(when(col("arm") === "a", col("n"))).as("n_a"),
      max(when(col("arm") === "a", col("k"))).as("k_a"),
      max(when(col("arm") === "b", col("n"))).as("n_b"),
      max(when(col("arm") === "b", col("k"))).as("k_b"))
    // loud guard (targetMixture-style, embedded in the VALUE so column
    // pruning can't drop it): an arm with no users would otherwise flow
    // null n/k through the pivot and surface as a silent null z row
    def arm(c: String, a: String) =
      when(col(c).isNull, raise_error(lit(
        s"q159_ab_test: arm '$a' is empty — the md5 hash-split produced " +
          "no users for it (corpus too small or user_id set degenerate)")))
        .otherwise(col(c)).as(c)
    val guarded = wide.select(arm("n_a", "a"), col("k_a"),
      arm("n_b", "b"), col("k_b"))
    val p = (col("k_a") + col("k_b")).cast("double") /
      (col("n_a") + col("n_b"))
    guarded.select(col("n_a"), col("k_a"), col("n_b"), col("k_b"),
      round(col("k_a").cast("double") / col("n_a"), 4).as("p_a"),
      round(col("k_b").cast("double") / col("n_b"), 4).as("p_b"),
      round((col("k_a").cast("double") / col("n_a") -
          col("k_b").cast("double") / col("n_b")) /
        sqrt(p * (lit(1) - p) *
          (lit(1.0) / col("n_a") + lit(1.0) / col("n_b"))), 4).as("z"))
  }

  /* Float parity: q160 revenue is the exact DECIMAL sum cast to double
   * unrounded (q157 lesson), growth divides two such doubles with
   * identical spelling; q161 is membership-only (quota arithmetic
   * `floor(t_d · min(n_d/t_d))` spelled identically both engines);
   * q162 rides the established exact-percentile == quantile_cont
   * equivalence (q85/q86) over INTEGER day latencies.
   */

  /** Month-over-month revenue growth: monthly aggregate (bounded by
    * wall-clock months), localCheckpointed once (both sides of the
    * previous-month self-join read it), then a LEFT equality join on
    * `m − 1 month`. First month's growth is null by construction.
    */
  def q160_monthly_growth(s: SparkSession, dir: String): DataFrame = {
    val monthly = Tables(s, dir, "orders")
      .groupBy(date_trunc("MONTH", col("o_orderdate")).as("m"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(18,2)")).as("rev"))
      .localCheckpoint() // both join sides read the aggregate
    val prev = monthly.select(col("m").as("__pm"), col("rev").as("__prev"))
    monthly.join(prev,
        col("__pm") === col("m") - expr("INTERVAL 1 MONTH"), "left")
      .select(col("m"), col("n_orders"),
        col("rev").cast("double").as("revenue"),
        round((col("rev").cast("double") - col("__prev").cast("double")) /
          col("__prev").cast("double"), 4).as("mom_growth"))
      .orderBy(col("m"))
  }

  /** Order-to-ship latency percentiles by order month: the SLA panel.
    * Exact `percentile` per month is scale-safe HERE because the
    * latency domain is bounded (integer days over the data's range →
    * the partial-aggregation buffer is a ≤few-thousand-entry counts
    * map per month, mergeable map-side), unlike exact percentiles
    * over an unbounded measure — those go to the q126 sketch panel.
    */
  def q162_latency_percentiles(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "lineitem")
      .join(Tables(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .select(date_trunc("MONTH", col("o_orderdate")).as("m"),
        datediff(col("l_shipdate"), col("o_orderdate")).as("lat"))
      .groupBy(col("m"))
      .agg(count(lit(1)).as("n_lines"),
        round(percentile(col("lat"), lit(0.5)), 4).as("p50"),
        round(percentile(col("lat"), lit(0.9)), 4).as("p90"),
        round(percentile(col("lat"), lit(0.99)), 4).as("p99"))
      .orderBy(col("m"))

  /** Rolling 7-day active users (DAU / WAU / stickiness): rolling
    * DISTINCT cannot ride a window frame (distinct doesn't compose
    * across frames), so each (user, day) activity pair is exploded to
    * the 7 window-end days it supports and de-duplicated per target
    * day — the standard distributed rolling-distinct shape. Cost is
    * 7× the DISTINCT (user, day) relation (already tiny relative to
    * raw events), all shuffles keyed. The activity relation is
    * checkpointed once (DAU + the explode both read it).
    */
  def q163_active_users(s: SparkSession, dir: String): DataFrame = {
    val p = Tables(s, dir, "events")
      .select(date_trunc("DAY", col("ts")).as("d"), col("user_id"))
      .distinct().localCheckpoint()
    val dau = p.groupBy(col("d")).agg(count(lit(1)).as("dau"))
    val wau = p
      .select(explode(expr(
        "sequence(d, d + interval 6 day, interval 1 day)")).as("td"),
        col("user_id"))
      .distinct()
      .groupBy(col("td")).agg(count(lit(1)).as("wau"))
    dau.join(wau, col("td") === col("d"))
      .select(col("d"), col("dau"), col("wau"),
        round(col("dau").cast("double") / col("wau"), 4).as("stickiness"))
      .orderBy(col("d"))
  }

  /** Daily-revenue autocorrelation panel at lags 1/7/28 — the
    * seasonality diagnostic. Lagged pairs come from equality
    * self-joins on `d − k days` (zero windows); ALL five sufficient
    * sums are exact decimals (Σx, Σy directly; the products are
    * (18,6)×(18,6) → (37,12), exact on both engines — the q157
    * down-cast discipline), so the Pearson closed form runs on
    * bit-identical doubles. The day-count-sized daily series is
    * checkpointed once and read six times (2 sides × 3 lags).
    */
  def q164_revenue_acf(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables(s, dir, "lineitem")
      .groupBy(date_trunc("DAY", col("l_shipdate")).as("d"))
      .agg(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
        .cast("decimal(18,6)")).cast("decimal(18,6)").as("x"))
      .localCheckpoint() // six consumers: 2 join sides × 3 lags
    def acfRow(k: Int) = {
      val b = daily.select(col("d").as("__bd"), col("x").as("y"))
      daily.join(b, col("__bd") === col("d") - expr(s"INTERVAL $k DAY"))
        .agg(count(lit(1)).as("n"),
          sum(col("x")).cast("double").as("sx"),
          sum(col("y")).cast("double").as("sy"),
          sum(col("x") * col("y")).cast("double").as("sxy"),
          sum(col("x") * col("x")).cast("double").as("sxx"),
          sum(col("y") * col("y")).cast("double").as("syy"))
        // a lag with ZERO pairs must vanish, not emit (k, 0, null):
        // the oracle's GROUP BY k naturally omits empty lags, while a
        // Spark global aggregate always emits one row — without this
        // filter a sparse l_shipdate regen would row-count-mismatch
        .filter(col("n") > 0)
        .select(lit(k).as("lag"), col("n"),
          round((col("n") * col("sxy") - col("sx") * col("sy")) /
            (sqrt(col("n") * col("sxx") - col("sx") * col("sx")) *
              sqrt(col("n") * col("syy") - col("sy") * col("sy"))), 4)
            .as("acf"))
    }
    acfRow(1).unionAll(acfRow(7)).unionAll(acfRow(28))
      .orderBy(col("lag"))
  }

  /* Float parity: q167 keeps the Gini numerator and denominator as
   * exact decimal sums — `(2i − n − 1)` is integral and `c_acctbal` is
   * exactly 2-decimal, so Σ(2i−n−1)·bal is order-independent in both
   * engines; rank ties contribute a tie-invariant block sum (equal
   * values × a fixed window of weights), so the statistic doesn't
   * depend on the tie-break — but the tie-break is still pinned
   * (bal, custkey) in BOTH engines so the i column itself matches.
   */

  /** Per-nation Gini concentration of customer account balances via
    * the rank-weighted closed form `Σ(2i−n−1)·x_(i) / (n·Σx)` — a
    * one-sort statistic (no all-pairs |x_i − x_j|). Ranks come from a
    * NATION-KEYED window (no single-partition WindowExec at any
    * scale); both sufficient sums are exact decimals, cast to double
    * only for the final ratio with identical parenthesization.
    */
  def q167_balance_gini(s: SparkSession, dir: String): DataFrame = {
    val cust = Tables(s, dir, "customer")
      .join(broadcast(Tables(s, dir, "nation")
          .select(col("n_nationkey"), col("n_name"))),
        col("c_nationkey") === col("n_nationkey"))
    val w = Window.partitionBy(col("c_nationkey"))
      .orderBy(col("c_acctbal"), col("c_custkey"))
    val wn = Window.partitionBy(col("c_nationkey"))
    cust.select(col("n_name").as("nation"),
        col("c_acctbal").cast("decimal(18,2)").as("bal"),
        row_number().over(w).as("i"),
        count(lit(1)).over(wn).as("n"))
      .groupBy(col("nation"))
      .agg(max(col("n")).as("n"),
        sum((lit(2) * col("i") - col("n") - 1) * col("bal")).as("num_d"),
        sum(col("bal")).as("s_d"))
      .select(col("nation"), col("n"),
        round(col("num_d").cast("double") /
          (col("n") * col("s_d").cast("double")), 4).as("gini"))
      .orderBy(col("nation"))
  }

  /** Top-20 event-type path trigrams: consecutive (e1,e2,e3) runs per
    * user in (ts, event_id) order — q150's Markov panel extended one
    * step (the sequence-mining signal a funnel/path analysis starts
    * from). One user-keyed window shuffle, combinable trigram counts,
    * TakeOrdered top-k with a total tie-break.
    */
  def q174_event_trigrams(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    Tables(s, dir, "events")
      .select(col("user_id"), col("event_type").as("e1"),
        lead(col("event_type"), 1).over(w).as("e2"),
        lead(col("event_type"), 2).over(w).as("e3"))
      .filter(col("e3").isNotNull)
      .groupBy(col("e1"), col("e2"), col("e3"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("e1"), col("e2"), col("e3"))
      .limit(20)
  }

  val entries: Seq[Entry] = Seq(
    Entry("q01_agg_basic", q01_agg_basic, Some(
      """SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity), 4) AS sum_qty,
        |  round(sum(l_extendedprice), 4) AS sum_base_price,
        |  round(sum(l_extendedprice * (1 - l_discount)), 4) AS sum_disc_price,
        |  round(avg(l_quantity), 4) AS avg_qty,
        |  round(avg(l_discount), 4) AS avg_disc,
        |  count(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin)),
    Entry("q02_select", q02_select, Some(
      """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
        |ORDER BY l_orderkey, l_linenumber""".stripMargin)),
    Entry("q03_filter", q03_filter, Some(
      """SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag
        |FROM lineitem WHERE l_quantity > 45 AND l_returnflag = 'R'
        |ORDER BY l_orderkey, l_linenumber""".stripMargin)),
    Entry("q04_filter_string", q04_filter_string, Some(
      """SELECT p_partkey, p_name, p_type FROM part
        |WHERE p_type LIKE '%ECO%' OR p_name LIKE 'red%'
        |ORDER BY p_partkey""".stripMargin)),
    Entry("q05_sort_lex", q05_sort_lex, Some(
      """SELECT cast(o_orderkey AS VARCHAR) AS okey_str FROM orders
        |ORDER BY okey_str""".stripMargin)),
    Entry("q06_topk", q06_topk, Some(
      """SELECT o_orderkey, round(o_totalprice, 4) AS px FROM orders
        |ORDER BY px DESC, o_orderkey ASC LIMIT 100""".stripMargin)),
    Entry("q07_join_inner", q07_join_inner, Some(
      """SELECT c_custkey, c_name, o_orderkey, round(o_totalprice, 4) AS px
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |ORDER BY o_orderkey""".stripMargin)),
    Entry("q08_join_left", q08_join_left, Some(
      """SELECT c_custkey, count(o_orderkey) AS n_orders,
        |  round(coalesce(sum(o_totalprice), 0), 4) AS total_px
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin)),
    Entry("q09_join_right", q09_join_right, Some(
      """SELECT c_custkey, count(o_orderkey) AS n_orders
        |FROM orders RIGHT JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin)),
    Entry("q10_join_full", q10_join_full, Some(
      """SELECT coalesce(c.c_nationkey, s.s_nationkey) AS nk,
        |  coalesce(n_cust, 0) AS n_cust, coalesce(n_supp, 0) AS n_supp
        |FROM (SELECT c_nationkey, count(*) AS n_cust FROM customer GROUP BY 1) c
        |FULL OUTER JOIN
        |  (SELECT s_nationkey, count(*) AS n_supp FROM supplier GROUP BY 1) s
        |ON c.c_nationkey = s.s_nationkey
        |ORDER BY nk""".stripMargin)),
    Entry("q11_join_rightwins", q11_join_rightwins, Some(
      """SELECT c_custkey,
        |  CASE WHEN n_nationkey IS NOT NULL THEN n_nationkey
        |       ELSE c_nationkey END AS nationkey,
        |  CASE WHEN n_nationkey IS NOT NULL THEN n_name
        |       ELSE c_name END AS name
        |FROM customer LEFT JOIN
        |  (SELECT * FROM nation WHERE n_nationkey < 10) n
        |ON c_nationkey = n_nationkey
        |ORDER BY c_custkey""".stripMargin)),
    Entry("q12_agg_quirks", q12_agg_quirks, Some(
      """SELECT c_nationkey, count(*) AS n,
        |  round(stddev_pop(c_acctbal), 4) AS sd,
        |  round(median(c_acctbal), 4) AS med,
        |  string_agg(c_mktsegment, ', ' ORDER BY c_mktsegment) AS segs
        |FROM customer GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin)),
    Entry("q13_column_agg_loose", q13_column_agg_loose, Some(
      """SELECT
        |  round(sum(v), 4) AS total, round(avg(v), 4) AS mean,
        |  round(min(v), 4) AS vmin, round(max(v), 4) AS vmax,
        |  count(*) AS n
        |FROM (SELECT (s_suppkey % 90 + 10) * 1000 + (s_suppkey % 1000) + 0.25 AS v
        |      FROM supplier)""".stripMargin)),
    Entry("q14_distinct", q14_distinct, Some(
      """SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
        |ORDER BY l_returnflag, l_linestatus""".stripMargin)),
    Entry("q15_setops", q15_setops, Some(
      """SELECT 'u' AS op, k FROM
        |  (SELECT c_nationkey AS k FROM customer
        |   UNION SELECT s_nationkey FROM supplier)
        |UNION ALL
        |SELECT 'i', k FROM
        |  (SELECT c_nationkey AS k FROM customer
        |   INTERSECT SELECT s_nationkey FROM supplier)
        |UNION ALL
        |SELECT 'e', k FROM
        |  (SELECT c_nationkey AS k FROM customer
        |   EXCEPT SELECT s_nationkey FROM supplier)
        |ORDER BY op, k""".stripMargin)),
    Entry("q16_head", q16_head, Some(
      """SELECT o_orderkey, o_orderstatus, round(o_totalprice, 4) AS px
        |FROM orders ORDER BY o_orderkey LIMIT 10""".stripMargin)),
    Entry("q17_tail", q17_tail, Some(
      """SELECT o_orderkey, o_orderstatus FROM
        |  (SELECT o_orderkey, o_orderstatus FROM orders
        |   ORDER BY o_orderkey DESC LIMIT 10)
        |ORDER BY o_orderkey""".stripMargin)),
    Entry("q18_at", q18_at, Some(
      """SELECT o_orderkey, o_orderstatus FROM orders
        |ORDER BY o_orderkey LIMIT 1 OFFSET 41""".stripMargin)),
    Entry("q19_line_range", q19_line_range, Some(
      """SELECT o_orderkey FROM orders
        |ORDER BY o_orderkey LIMIT 11 OFFSET 99""".stripMargin)),
    Entry("q20_coercions", q20_coercions, Some(
      """SELECT l_orderkey AS lo, l_linenumber AS ln,
        |  round((l_orderkey % 90 + 10) * 1000 + (l_partkey % 1000) + 0.25, 4) AS cur,
        |  round((l_partkey % 200) / 100.0, 4) AS pct,
        |  round(-((l_suppkey % 50) + 0.5), 4) AS acc,
        |  (l_linenumber % 4) IN (0, 2) AS flag
        |FROM lineitem ORDER BY lo, ln""".stripMargin)),
    Entry("q21_window_funcs", q21_window_funcs, Some(
      """SELECT o_custkey, o_orderkey,
        |  row_number() OVER w AS rn,
        |  round(sum(o_totalprice) OVER
        |    (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |     ROWS UNBOUNDED PRECEDING), 4) AS running
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |ORDER BY o_custkey, o_orderkey""".stripMargin)),
    Entry("q22_events_window", q22_events_window, Some(
      """SELECT date_trunc('hour', ts) AS hr, event_type,
        |  count(*) AS n, round(sum(value), 4) AS v
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),
    Entry("q23_asof_join", q23_asof_join, Some(
      """SELECT event_id, user_id, o_orderkey AS last_order,
        |  o_orderdate AS last_order_date
        |FROM events e LEFT JOIN orders o
        |  ON o.o_custkey = e.user_id AND o.o_orderdate <= e.ts
        |QUALIFY row_number() OVER
        |  (PARTITION BY event_id
        |   ORDER BY o_orderdate DESC NULLS LAST, o_orderkey DESC NULLS LAST) = 1
        |ORDER BY event_id""".stripMargin)),
    Entry("q25_dedup_exact", q25_dedup_exact, Some(
      """SELECT min(doc_id) AS keep_id, count(*) AS n_copies
        |FROM documents GROUP BY text ORDER BY keep_id""".stripMargin)),
    Entry("q36_csv_roundtrip", q36_csv_roundtrip, Some(
      """SELECT l_returnflag, round(sum(l_quantity), 4) AS sum_qty,
        |  count(*) AS n
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),
    Entry("q37_semi_anti", q37_semi_anti, Some(
      """SELECT 'anti' AS op, count(*) AS n FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |UNION ALL
        |SELECT 'semi', count(*) FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY op""".stripMargin)),
    Entry("q38_rollup", q38_rollup, Some(
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        |  round(sum(l_quantity), 4) AS qty
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin)),
    Entry("q39_lag_lead", q39_lag_lead, Some(
      """SELECT o_custkey, o_orderkey,
        |  round(lag(o_totalprice, 1) OVER w, 4) AS prev_px,
        |  lead(o_orderkey, 1) OVER w AS next_ok
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |ORDER BY o_custkey, o_orderkey""".stripMargin)),
    Entry("q40_sessions", q40_sessions, Some(
      """WITH b AS (
        |  SELECT user_id, ts, value,
        |    CASE WHEN lag(ts) OVER w IS NULL THEN 0
        |         WHEN ts - lag(ts) OVER w > INTERVAL '30 minutes' THEN 1
        |         ELSE 0 END AS brk
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)
        |), sids AS (
        |  SELECT user_id, ts, value,
        |    CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY ts
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sid
        |  FROM b
        |)
        |SELECT user_id, sid, count(*) AS n, round(sum(value), 4) AS v,
        |  min(ts) AS session_start
        |FROM sids GROUP BY user_id, sid ORDER BY user_id, sid""".stripMargin)),
    Entry("q41_quantiles", q41_quantiles, Some(
      """SELECT event_type,
        |  round(quantile_cont(value, 0.25), 4) AS p25,
        |  round(quantile_cont(value, 0.5), 4) AS p50,
        |  round(quantile_cont(value, 0.75), 4) AS p75,
        |  round(avg(value), 4) AS mean
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),
    Entry("q42_json", q42_json, Some(
      """SELECT event_type,
        |  CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT))
        |    AS BIGINT) AS ksum,
        |  count(*) AS n
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),
    Entry("q47_sql_dialect", q47_sql_dialect, Some(
      """SELECT o_orderkey,
        |  round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue,
        |  o_orderdate
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
        |  AND l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
        |GROUP BY o_orderkey, o_orderdate
        |ORDER BY revenue DESC, o_orderkey
        |LIMIT 20""".stripMargin)),
    Entry("q66_label_centroids", q66_label_centroids, Some(
      """SELECT label, CAST(i - 1 AS BIGINT) AS dim, round(avg(e), 4) AS c
        |FROM (SELECT label, unnest(embedding) AS e,
        |             generate_subscripts(embedding, 1) AS i
        |      FROM embeddings)
        |GROUP BY label, dim ORDER BY label, dim""".stripMargin)),
    Entry("q69_rolling_window", q69_rolling_window, Some(
      """SELECT event_id, user_id,
        |  count(*) OVER (PARTITION BY user_id ORDER BY epoch_us(ts)
        |    RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW) AS n_prev_hour,
        |  round(sum(value) OVER (PARTITION BY user_id ORDER BY epoch_us(ts)
        |    RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW), 4) AS v_prev_hour
        |FROM events
        |ORDER BY event_id""".stripMargin)),
    Entry("q70_pivot", q70_pivot, Some(
      """SELECT CAST(day(ts) AS BIGINT) AS d,
        |  count(CASE WHEN event_type = 'click' THEN 1 END) AS click,
        |  count(CASE WHEN event_type = 'error' THEN 1 END) AS error,
        |  count(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchase,
        |  count(CASE WHEN event_type = 'signup' THEN 1 END) AS signup,
        |  count(CASE WHEN event_type = 'view' THEN 1 END) AS view
        |FROM events GROUP BY d ORDER BY d""".stripMargin)),
    Entry("q74_cow_mutations", q74_cow_mutations, Some(
      """WITH base AS (
        |  SELECT CAST(n_nationkey AS VARCHAR) AS nkey, n_name,
        |         row_number() OVER (ORDER BY n_nationkey) - 1 AS idx
        |  FROM nation
        |), edited AS (
        |  SELECT nkey,
        |         CASE WHEN idx = 3 THEN 'EDITED' ELSE n_name END AS n_name, idx
        |  FROM base WHERE idx <> 5
        |), ranked AS (
        |  SELECT nkey, n_name,
        |         CAST(row_number() OVER (ORDER BY idx) - 1 AS DOUBLE) AS ord
        |  FROM edited
        |)
        |SELECT nkey, n_name FROM (
        |  SELECT nkey, n_name, ord FROM ranked
        |  UNION ALL SELECT '999', 'ZETALAND', 1.5
        |) ORDER BY ord""".stripMargin)),
    Entry("q76_zorder", q76_zorder, Some(
      """WITH keyed AS (
        |  SELECT l_orderkey, l_linenumber,
        |         CAST(l_partkey % 1024 AS BIGINT) AS x,
        |         CAST(l_suppkey % 1024 AS BIGINT) AS y
        |  FROM lineitem
        |), z AS (
        |  SELECT l_orderkey, l_linenumber, x, y,
        |    (SELECT CAST(sum(((x >> b.g) & 1) * power(4, b.g) * 2 +
        |                     ((y >> b.g) & 1) * power(4, b.g)) AS BIGINT)
        |     FROM unnest(generate_series(0, 9)) AS b(g)) AS zval
        |  FROM keyed
        |)
        |SELECT zval, x, y FROM z
        |ORDER BY zval, x, y, l_orderkey, l_linenumber LIMIT 100""".stripMargin)),
    Entry("q77_upsert", q77_upsert, Some(
      """WITH delta AS (
        |  SELECT o_orderkey, round(o_totalprice * 1.1, 4) AS o_totalprice,
        |         'bumped' AS tag
        |  FROM orders WHERE o_orderkey % 29 = 0
        |  UNION ALL
        |  SELECT -i, 123.4567, 'inserted' FROM range(1, 3) t(i)
        |), merged AS (
        |  SELECT coalesce(d.o_orderkey, o.o_orderkey) AS o_orderkey,
        |         coalesce(d.o_totalprice, round(o.o_totalprice, 4)) AS o_totalprice,
        |         coalesce(d.tag, 'kept') AS tag
        |  FROM orders o FULL OUTER JOIN delta d ON o.o_orderkey = d.o_orderkey
        |)
        |SELECT tag, count(*) AS n, round(sum(o_totalprice), 4) AS tp
        |FROM merged GROUP BY tag ORDER BY tag""".stripMargin)),
    Entry("q78_cube", q78_cube, Some(
      """SELECT coalesce(l_returnflag, '(all)') AS rf,
        |       coalesce(l_linestatus, '(all)') AS ls,
        |       count(*) AS n, round(sum(l_quantity), 4) AS qty
        |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
        |ORDER BY rf, ls""".stripMargin)),
    Entry("q79_ntile", q79_ntile, Some(
      """WITH t AS (
        |  SELECT c_mktsegment,
        |         CAST(ntile(4) OVER (PARTITION BY c_mktsegment
        |           ORDER BY c_acctbal, c_custkey) AS INT) AS tile,
        |         c_acctbal
        |  FROM customer
        |)
        |SELECT c_mktsegment, tile, count(*) AS n,
        |       round(min(c_acctbal), 4) AS lo, round(max(c_acctbal), 4) AS hi
        |FROM t GROUP BY c_mktsegment, tile
        |ORDER BY c_mktsegment, tile""".stripMargin)),
    Entry("q80_monthly_trend", q80_monthly_trend, Some(
      """SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS mon,
        |       o_orderpriority,
        |       count(*) AS n, round(avg(o_totalprice), 4) AS avg_tp
        |FROM orders GROUP BY mon, o_orderpriority
        |ORDER BY mon, o_orderpriority""".stripMargin)),
    Entry("q81_top_names", q81_top_names, Some(
      """WITH ranked AS (
        |  SELECT c_nationkey, c_name,
        |         row_number() OVER (PARTITION BY c_nationkey
        |           ORDER BY c_acctbal DESC, c_custkey) AS rk
        |  FROM customer
        |)
        |SELECT c_nationkey, string_agg(c_name, ',' ORDER BY rk) AS top3
        |FROM ranked WHERE rk <= 3 GROUP BY c_nationkey
        |ORDER BY c_nationkey""".stripMargin)),
    Entry("q89_daily_active", q89_daily_active, Some(
      """WITH fe AS (
        |  SELECT user_id, date_trunc('day', min(ts)) AS first_d
        |  FROM events GROUP BY user_id
        |), w AS (
        |  SELECT DISTINCT user_id, date_trunc('day', ts) AS d FROM events
        |)
        |SELECT d, count(*) AS active,
        |  count(CASE WHEN d = first_d THEN 1 END) AS new_users
        |FROM w JOIN fe USING (user_id) GROUP BY d ORDER BY d""".stripMargin)),
    Entry("q91_event_gaps", q91_event_gaps, Some(
      """WITH g AS (
        |  SELECT event_type,
        |    epoch_us(ts) - lag(epoch_us(ts)) OVER (
        |      PARTITION BY user_id, event_type
        |      ORDER BY epoch_us(ts), event_id) AS gap
        |  FROM events
        |)
        |SELECT event_type, count(gap) AS n,
        |  round(quantile_cont(CAST(gap AS DOUBLE) / 1e6, 0.5), 4) AS p50_s,
        |  round(quantile_cont(CAST(gap AS DOUBLE) / 1e6, 0.9), 4) AS p90_s,
        |  round(avg(CAST(gap AS DOUBLE) / 1e6), 4) AS avg_s
        |FROM g GROUP BY event_type ORDER BY event_type""".stripMargin)),
    Entry("q98_partition_prune", q98_partition_prune, Some(
      """SELECT source, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents WHERE lang = 'en'
        |GROUP BY source ORDER BY source""".stripMargin)),
    Entry("q103_grouping_sets", q103_grouping_sets, Some(
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
        |  round(sum(o_totalprice), 4) AS tot,
        |  CAST(grouping(o_orderstatus) AS BIGINT) AS g_status,
        |  CAST(grouping(o_orderpriority) AS BIGINT) AS g_prio
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
        |  (o_orderstatus), ())
        |ORDER BY g_status, g_prio, o_orderstatus NULLS FIRST,
        |  o_orderpriority NULLS FIRST""".stripMargin)),
    Entry("q104_time_weighted", q104_time_weighted, Some(
      """WITH g AS (
        |  SELECT event_type, value,
        |    lead(epoch_us(ts)) OVER (PARTITION BY user_id, event_type
        |      ORDER BY epoch_us(ts), event_id) - epoch_us(ts) AS gap
        |  FROM events
        |)
        |SELECT event_type, count(*) AS n,
        |  round(sum(value * gap) / sum(gap), 4) AS twa,
        |  round(avg(value), 4) AS plain_avg
        |FROM g WHERE gap IS NOT NULL
        |GROUP BY event_type ORDER BY event_type""".stripMargin)),
    Entry("q105_rank_trio", q105_rank_trio, Some(
      """SELECT doc_id, lang,
        |  CAST(dense_rank() OVER w AS BIGINT) AS drank,
        |  round(percent_rank() OVER w, 4) AS prank,
        |  round(cume_dist() OVER w, 4) AS cdist
        |FROM documents
        |WINDOW w AS (PARTITION BY lang ORDER BY n_chars DESC)
        |ORDER BY doc_id""".stripMargin)),
    Entry("q107_local_volume", q107_local_volume, Some(
      """SELECT n_name,
        |  round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
        |FROM region JOIN nation ON n_regionkey = r_regionkey
        |JOIN customer ON c_nationkey = n_nationkey
        |JOIN orders ON o_custkey = c_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |JOIN supplier ON s_suppkey = l_suppkey
        |  AND s_nationkey = c_nationkey
        |WHERE r_name = 'AMERICA'
        |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin)),
    Entry("q108_correlated_subquery", q108_correlated_subquery, Some(
      """SELECT o_orderkey, o_custkey, round(o_totalprice, 4) AS price
        |FROM orders o
        |WHERE o_totalprice > 2 * (SELECT avg(o2.o_totalprice)
        |  FROM orders o2 WHERE o2.o_custkey = o.o_custkey)
        |ORDER BY o_orderkey""".stripMargin)),
    Entry("q109_exists_subquery", q109_exists_subquery, Some(
      """SELECT c_custkey, c_name FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o
        |  WHERE o.o_custkey = c.c_custkey
        |    AND o.o_orderpriority = '1-URGENT')
        |AND NOT EXISTS (SELECT 1 FROM orders o
        |  JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        |  WHERE o.o_custkey = c.c_custkey AND l.l_returnflag = 'R')
        |ORDER BY c_custkey""".stripMargin)),
    Entry("q110_big_orders", q110_big_orders, Some(
      """WITH big AS (
        |  SELECT l_orderkey, sum(l_quantity) AS qty FROM lineitem
        |  GROUP BY l_orderkey HAVING sum(l_quantity) > 250
        |)
        |SELECT c_custkey, o_orderkey, round(qty, 4) AS qty,
        |  round(o_totalprice, 4) AS price
        |FROM big JOIN orders ON o_orderkey = l_orderkey
        |JOIN customer ON c_custkey = o_custkey
        |ORDER BY qty DESC, o_orderkey""".stripMargin)),
    Entry("q113_snapshot_diff", q113_snapshot_diff, Some(
      """WITH old AS (
        |  SELECT doc_id, md5(text) AS f FROM documents WHERE doc_id % 7 <> 0
        |), neu AS (
        |  SELECT doc_id,
        |    md5(CASE WHEN doc_id % 5 = 0 THEN text || ' v2' ELSE text END)
        |      AS f
        |  FROM documents WHERE doc_id % 3 <> 0
        |), j AS (
        |  SELECT old.doc_id AS od, neu.doc_id AS nd, old.f AS fo,
        |    neu.f AS fn
        |  FROM old FULL OUTER JOIN neu ON old.doc_id = neu.doc_id
        |)
        |SELECT CASE WHEN od IS NULL THEN 'added'
        |  WHEN nd IS NULL THEN 'removed'
        |  WHEN fo IS DISTINCT FROM fn THEN 'changed'
        |  ELSE 'same' END AS status,
        |  count(*) AS n
        |FROM j GROUP BY 1 ORDER BY 1""".stripMargin)),
    Entry("q114_zscore_outliers", q114_zscore_outliers, Some(
      """WITH st AS (
        |  SELECT lang, avg(n_chars) AS m, stddev(n_chars) AS s
        |  FROM documents GROUP BY lang
        |), z AS (
        |  SELECT d.lang, round((d.n_chars - st.m) / st.s, 4) AS z
        |  FROM documents d JOIN st USING (lang)
        |)
        |SELECT lang, count(*) AS n,
        |  count(CASE WHEN abs(z) > 2 THEN 1 END) AS n_out,
        |  min(z) AS min_z, max(z) AS max_z
        |FROM z GROUP BY lang ORDER BY lang""".stripMargin)),
    Entry("q115_daily_top_types", q115_daily_top_types, Some(
      """WITH d AS (
        |  SELECT date_trunc('day', ts) AS d, event_type, count(*) AS n
        |  FROM events GROUP BY 1, 2
        |)
        |SELECT d, event_type, n,
        |  CAST(rank() OVER (PARTITION BY d
        |    ORDER BY n DESC, event_type) AS BIGINT) AS rnk
        |FROM d QUALIFY rnk <= 2 ORDER BY d, rnk, event_type""".stripMargin)),
    Entry("q116_hourly_heatmap", q116_hourly_heatmap, Some(
      """SELECT CAST(extract(hour FROM ts) AS BIGINT) AS hr, event_type,
        |  count(*) AS n, round(quantile_cont(value, 0.5), 4) AS med_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),
    Entry("q118_bloom_semijoin", q118_bloom_semijoin, Some(
      """SELECT l_returnflag, count(*) AS n,
        |  round(sum(l_extendedprice * (1 - l_discount)), 4) AS rev
        |FROM lineitem
        |WHERE EXISTS (SELECT 1 FROM orders
        |  WHERE o_orderkey = l_orderkey
        |    AND o_orderpriority = '1-URGENT' AND o_totalprice > 150000)
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),
    Entry("q120_volume_shipping", q120_volume_shipping, Some(
      """SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
        |       year(l.l_shipdate) AS l_year,
        |       count(*) AS n,
        |       round(sum(l.l_extendedprice * (1 - l.l_discount)), 4) AS revenue
        |FROM lineitem l
        |JOIN orders o ON o.o_orderkey = l.l_orderkey
        |JOIN customer c ON c.c_custkey = o.o_custkey
        |JOIN supplier s ON s.s_suppkey = l.l_suppkey
        |JOIN nation sn ON sn.n_nationkey = s.s_nationkey
        |JOIN nation cn ON cn.n_nationkey = c.c_nationkey
        |WHERE ((sn.n_name='NATION_1' AND cn.n_name='NATION_2')
        |    OR (sn.n_name='NATION_2' AND cn.n_name='NATION_1'))
        |  AND l.l_shipdate >= '1996-01-01' AND l.l_shipdate < '1998-01-01'
        |GROUP BY 1,2,3 ORDER BY 1,2,3""".stripMargin)),
    Entry("q121_promo_share", q121_promo_share, Some(
      """SELECT date_trunc('month', l_shipdate) AS mon,
        |  round(100.0 * sum(CASE WHEN p_type='PROMO'
        |          THEN l_extendedprice*(1-l_discount) ELSE 0 END)
        |        / sum(l_extendedprice*(1-l_discount)), 4) AS promo_share,
        |  round(sum(l_extendedprice*(1-l_discount)), 4) AS rev
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE l_shipdate >= '1996-01-01' AND l_shipdate < '1998-01-01'
        |GROUP BY 1 ORDER BY 1""".stripMargin)),
    Entry("q122_supplier_panel", q122_supplier_panel, Some(
      """SELECT p_brand, p_type, count(DISTINCT l_suppkey) AS supplier_cnt
        |FROM part JOIN lineitem ON l_partkey = p_partkey
        |WHERE p_size >= 5
        |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier
        |                        WHERE s_acctbal < 500)
        |GROUP BY 1,2 ORDER BY supplier_cnt DESC, p_brand, p_type""".stripMargin)),
    Entry("q123_idle_customers", q123_idle_customers, Some(
      """SELECT c_mktsegment, count(*) AS numcust,
        |       round(sum(c_acctbal),4) AS totbal
        |FROM customer
        |WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer
        |                   WHERE c_acctbal > 0)
        |  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
        |                  AND o_orderdate >= '1999-01-01')
        |GROUP BY 1 ORDER BY 1""".stripMargin)),
    Entry("q124_top_supplier", q124_top_supplier, Some(
      """WITH rev AS (
        |  SELECT l_suppkey,
        |         sum(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(18,4)))
        |           AS rev_d
        |  FROM lineitem
        |  WHERE l_shipdate >= '1996-01-01' AND l_shipdate < '1996-04-01'
        |  GROUP BY 1)
        |SELECT s_suppkey, s_name, CAST(rev_d AS DOUBLE) AS total_rev
        |FROM supplier JOIN rev ON s_suppkey = l_suppkey
        |WHERE rev_d = (SELECT max(rev_d) FROM rev)
        |ORDER BY s_suppkey""".stripMargin)),
    Entry("q126_quantile_sketch", q126_quantile_sketch, None),
    Entry("q130_small_qty_revenue", q130_small_qty_revenue, Some(
      """SELECT round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4)))
        |             AS DOUBLE)/7.0, 4) AS avg_weekly,
        |       count(*) AS n_small
        |FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        |WHERE p.p_brand = 'Brand#4'
        |  AND l.l_quantity < 0.2 * (SELECT avg(l2.l_quantity) FROM lineitem l2
        |                            WHERE l2.l_partkey = l.l_partkey)""".stripMargin)),
    Entry("q131_disjunctive_join", q131_disjunctive_join, Some(
      """SELECT round(CAST(sum(CAST(l_extendedprice*(1-l_discount)
        |             AS DECIMAL(18,4))) AS DOUBLE), 4) AS revenue,
        |       count(*) AS n_rows
        |FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        |WHERE (p.p_brand='Brand#4'  AND p.p_size BETWEEN 1 AND 15
        |       AND l.l_quantity BETWEEN 1 AND 15)
        |   OR (p.p_brand='Brand#17' AND p.p_size BETWEEN 10 AND 30
        |       AND l.l_quantity BETWEEN 10 AND 30)
        |   OR (p.p_brand='Brand#19' AND p.p_size BETWEEN 20 AND 50
        |       AND l.l_quantity BETWEEN 25 AND 50)""".stripMargin)),
    Entry("q132_waiting_suppliers", q132_waiting_suppliers, Some(
      """SELECT s_name, count(*) AS numwait
        |FROM supplier, lineitem l1, orders o
        |WHERE s_suppkey = l1.l_suppkey AND o.o_orderkey = l1.l_orderkey
        |  AND o.o_orderstatus = 'F'
        |  AND l1.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
        |  AND EXISTS (SELECT 1 FROM lineitem l2
        |              WHERE l2.l_orderkey = l1.l_orderkey
        |                AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
        |              WHERE l3.l_orderkey = l1.l_orderkey
        |                AND l3.l_suppkey <> l1.l_suppkey
        |                AND l3.l_shipdate > l1.l_shipdate)
        |GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 20""".stripMargin)),
    Entry("q133_mad_outliers", q133_mad_outliers, Some(
      """WITH med AS (
        |  SELECT event_type, quantile_cont(value, 0.5) AS m
        |  FROM events GROUP BY 1),
        |mad AS (
        |  SELECT e.event_type, m, quantile_cont(abs(e.value - m), 0.5) AS mad
        |  FROM events e JOIN med USING (event_type) GROUP BY 1, 2)
        |SELECT e.event_id, e.event_type, round(e.value,4) AS value,
        |       round((e.value - m) / (1.4826*mad), 4) AS robust_z
        |FROM events e JOIN mad USING (event_type)
        |WHERE abs(e.value - m) > 3 * (1.4826*mad)
        |ORDER BY e.event_id""".stripMargin)),
    Entry("q136_shipping_priority", q136_shipping_priority, Some(
      """SELECT l_orderkey, o_orderdate, o_orderpriority,
        |  round(CAST(sum(CAST(l_extendedprice*(1-l_discount)
        |    AS DECIMAL(18,4))) AS DOUBLE), 4) AS revenue
        |FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
        |JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        |WHERE c.c_mktsegment = 'BUILDING'
        |  AND o.o_orderdate < TIMESTAMP '1998-07-01'
        |  AND l.l_shipdate > TIMESTAMP '1998-07-01'
        |GROUP BY 1, 2, 3
        |ORDER BY sum(CAST(l_extendedprice*(1-l_discount)
        |  AS DECIMAL(18,4))) DESC, l_orderkey
        |LIMIT 10""".stripMargin)),
    Entry("q137_returned_items", q137_returned_items, Some(
      """SELECT c.c_custkey, c.c_name, n.n_name,
        |  round(c.c_acctbal, 4) AS acctbal,
        |  round(CAST(sum(CAST(l_extendedprice*(1-l_discount)
        |    AS DECIMAL(18,4))) AS DOUBLE), 4) AS revenue
        |FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
        |JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        |JOIN nation n ON c.c_nationkey = n.n_nationkey
        |WHERE l.l_returnflag = 'R'
        |  AND o.o_orderdate >= TIMESTAMP '1997-01-01'
        |  AND o.o_orderdate < TIMESTAMP '1997-07-01'
        |GROUP BY 1, 2, 3, c.c_acctbal
        |ORDER BY sum(CAST(l_extendedprice*(1-l_discount)
        |  AS DECIMAL(18,4))) DESC, c.c_custkey
        |LIMIT 20""".stripMargin)),
    Entry("q138_important_parts", q138_important_parts, Some(
      """WITH sli AS (
        |  SELECT l.l_partkey,
        |    CAST(l_extendedprice*(1-l_discount) AS DECIMAL(18,4)) AS r
        |  FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |  JOIN nation n ON s.s_nationkey = n.n_nationkey
        |  JOIN region rg ON n.n_regionkey = rg.r_regionkey
        |  WHERE rg.r_name = 'EUROPE'),
        |pv AS (SELECT l_partkey, sum(r) AS v FROM sli GROUP BY 1),
        |tot AS (SELECT sum(v) AS t, count(*) AS np FROM pv)
        |SELECT l_partkey, round(CAST(v AS DOUBLE), 4) AS value
        |FROM pv, tot
        |WHERE CAST(v AS DOUBLE) > 1.5*(CAST(t AS DOUBLE)/np)
        |ORDER BY v DESC, l_partkey""".stripMargin)),
    Entry("q139_custdist", q139_custdist, Some(
      """WITH co AS (
        |  SELECT c.c_custkey, count(o.o_orderkey) AS c_count
        |  FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
        |    AND o.o_orderpriority <> '4-NOT SPECIFIED'
        |  GROUP BY 1)
        |SELECT c_count, count(*) AS custdist FROM co GROUP BY 1
        |ORDER BY custdist DESC, c_count DESC""".stripMargin)),
    Entry("q140_min_cost_supplier", q140_min_cost_supplier, Some(
      """WITH cost AS (
        |  SELECT l.l_partkey, l.l_suppkey,
        |    min(l.l_extendedprice/l.l_quantity) AS c
        |  FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |  JOIN nation n ON s.s_nationkey = n.n_nationkey
        |  JOIN region rg ON n.n_regionkey = rg.r_regionkey
        |  WHERE rg.r_name = 'ASIA'
        |  GROUP BY 1, 2),
        |mn AS (SELECT l_partkey, min(c) AS mc FROM cost GROUP BY 1)
        |SELECT p.p_partkey, s.s_name, n.n_name, round(k.c, 4) AS unit_cost
        |FROM cost k JOIN mn ON k.l_partkey = mn.l_partkey AND k.c = mn.mc
        |JOIN part p ON p.p_partkey = k.l_partkey
        |JOIN supplier s ON s.s_suppkey = k.l_suppkey
        |JOIN nation n ON s.s_nationkey = n.n_nationkey
        |WHERE p.p_brand = 'Brand#4'
        |QUALIFY row_number() OVER (PARTITION BY p.p_partkey
        |  ORDER BY k.l_suppkey) = 1
        |ORDER BY p.p_partkey""".stripMargin)),
    Entry("q141_late_lines", q141_late_lines, Some(
      """SELECT l.l_returnflag,
        |  count(CASE WHEN o.o_orderpriority IN ('1-URGENT','2-HIGH')
        |    THEN 1 END) AS high_line_count,
        |  count(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT','2-HIGH')
        |    THEN 1 END) AS low_line_count
        |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |WHERE l.l_shipdate > o.o_orderdate + INTERVAL 45 DAY
        |GROUP BY 1 ORDER BY 1""".stripMargin)),
    Entry("q145_market_share", q145_market_share, Some(
      """SELECT CAST(year(o.o_orderdate) AS INT) AS yr,
        |  round(CAST(sum(CASE WHEN sn.n_name = 'NATION_3'
        |      THEN CAST(l_extendedprice*(1-l_discount) AS DECIMAL(18,4))
        |      ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
        |    / CAST(sum(CAST(l_extendedprice*(1-l_discount)
        |      AS DECIMAL(18,4))) AS DOUBLE), 6) AS mkt_share,
        |  count(*) AS n_lines
        |FROM lineitem l
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |JOIN nation cn ON c.c_nationkey = cn.n_nationkey
        |JOIN region rg ON cn.n_regionkey = rg.r_regionkey
        |JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |JOIN nation sn ON s.s_nationkey = sn.n_nationkey
        |WHERE rg.r_name = 'AMERICA'
        |GROUP BY 1 ORDER BY 1""".stripMargin)),
    Entry("q146_priority_check", q146_priority_check, Some(
      """SELECT o_orderpriority, count(*) AS order_count
        |FROM orders o
        |WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o.o_orderdate < TIMESTAMP '1996-07-01'
        |  AND EXISTS (SELECT 1 FROM lineitem l
        |              WHERE l.l_orderkey = o.o_orderkey
        |                AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
        |GROUP BY 1 ORDER BY 1""".stripMargin)),
    Entry("q147_forecast_revenue", q147_forecast_revenue, Some(
      """SELECT round(CAST(sum(CAST(l_extendedprice*l_discount
        |    AS DECIMAL(18,6))) AS DOUBLE), 4) AS revenue,
        |  count(*) AS n_lines
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        |  AND l_shipdate < TIMESTAMP '1998-01-01'
        |  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""".stripMargin)),
    Entry("q149_corr_panel", q149_corr_panel, Some(
      """WITH s AS (
        |  SELECT count(*) AS n,
        |    sum(l_quantity) AS sq, sum(l_extendedprice) AS sp,
        |    sum(l_discount) AS sd,
        |    sum(l_quantity*l_quantity) AS sqq,
        |    sum(l_extendedprice*l_extendedprice) AS spp,
        |    sum(l_discount*l_discount) AS sdd,
        |    sum(l_quantity*l_extendedprice) AS sqp,
        |    sum(l_quantity*l_discount) AS sqd,
        |    sum(l_extendedprice*l_discount) AS spd
        |  FROM lineitem)
        |SELECT n,
        |  round((n*sqp - sq*sp)
        |    / (sqrt(n*sqq - sq*sq)*sqrt(n*spp - sp*sp)), 4) AS r_qty_price,
        |  round((n*sqd - sq*sd)
        |    / (sqrt(n*sqq - sq*sq)*sqrt(n*sdd - sd*sd)), 4) AS r_qty_disc,
        |  round((n*spd - sp*sd)
        |    / (sqrt(n*spp - sp*sp)*sqrt(n*sdd - sd*sd)), 4) AS r_price_disc
        |FROM s""".stripMargin)),
    Entry("q150_event_transitions", q150_event_transitions, Some(
      """WITH seq AS (
        |  SELECT user_id, event_type,
        |    lag(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS prev
        |  FROM events),
        |tr AS (SELECT prev AS from_type, event_type AS to_type,
        |         count(*) AS n
        |       FROM seq WHERE prev IS NOT NULL GROUP BY 1, 2),
        |tot AS (SELECT from_type, sum(n) AS tn FROM tr GROUP BY 1)
        |SELECT t.from_type, t.to_type, t.n,
        |  round(CAST(t.n AS DOUBLE)/tot.tn, 4) AS p
        |FROM tr t JOIN tot USING (from_type)
        |ORDER BY from_type, to_type""".stripMargin)),
    Entry("q151_benford", q151_benford, Some(
      """WITH dig AS (
        |  SELECT CAST(substr(CAST(CAST(round(o_totalprice*100) AS BIGINT)
        |    AS VARCHAR), 1, 1) AS INT) AS d
        |  FROM orders WHERE o_totalprice > 0),
        |cnts AS (SELECT d, count(*) AS cnt FROM dig GROUP BY 1),
        |tot AS (SELECT sum(cnt) AS n FROM cnts)
        |SELECT d, cnt,
        |  round(cnt/CAST((SELECT n FROM tot) AS DOUBLE), 4) AS share,
        |  round(log10(1.0 + 1.0/d), 4) AS expected
        |FROM cnts ORDER BY d""".stripMargin)),
    Entry("q152_key_audit", q152_key_audit, Some(
      """SELECT * FROM (
        |  SELECT 'customer' AS entity, count(*) AS n_rows,
        |    count(DISTINCT c_custkey) AS n_keys,
        |    count(*) - count(DISTINCT c_custkey) AS dup_rows FROM customer
        |  UNION ALL
        |  SELECT 'events', count(*), count(DISTINCT event_id),
        |    count(*) - count(DISTINCT event_id) FROM events
        |  UNION ALL
        |  SELECT 'lineitem', count(*),
        |    count(DISTINCT (l_orderkey, l_linenumber)),
        |    count(*) - count(DISTINCT (l_orderkey, l_linenumber))
        |  FROM lineitem
        |  UNION ALL
        |  SELECT 'orders', count(*), count(DISTINCT o_orderkey),
        |    count(*) - count(DISTINCT o_orderkey) FROM orders)
        |ORDER BY entity""".stripMargin)),
    Entry("q154_product_profit", q154_product_profit, Some(
      """SELECT n_name AS nation, year(o_orderdate) AS o_year,
        |  CAST(sum(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(18,6))
        |    - CAST(0.06*p_retailprice*l_quantity AS DECIMAL(18,6)))
        |    AS DOUBLE) AS sum_profit
        |FROM lineitem
        |JOIN part ON p_partkey = l_partkey AND p_name LIKE '%bolt%'
        |JOIN supplier ON s_suppkey = l_suppkey
        |JOIN nation ON n_nationkey = s_nationkey
        |JOIN orders ON o_orderkey = l_orderkey
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),
    Entry("q155_promotion_suppliers", q155_promotion_suppliers, Some(
      """WITH qty AS (
        |  SELECT l_suppkey, l_partkey, sum(l_quantity) AS q
        |  FROM lineitem JOIN part ON p_partkey = l_partkey
        |    AND p_name LIKE 'small%'
        |  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        |    AND l_shipdate < TIMESTAMP '1998-01-01'
        |  GROUP BY 1, 2)
        |SELECT s_suppkey, s_name, n_name AS nation
        |FROM supplier JOIN nation ON n_nationkey = s_nationkey
        |WHERE EXISTS (SELECT 1 FROM qty
        |              WHERE qty.l_suppkey = s_suppkey AND q > 30)
        |ORDER BY s_suppkey""".stripMargin)),
    Entry("q157_rolling_anomaly", q157_rolling_anomaly, Some(
      """WITH daily AS (
        |  SELECT date_trunc('day', l_shipdate) AS d,
        |    CAST(sum(CAST(l_extendedprice*(1-l_discount)
        |      AS DECIMAL(18,6))) AS DECIMAL(18,6)) AS rev
        |  FROM lineitem GROUP BY 1),
        |win AS (
        |  SELECT d, rev,
        |    count(*) OVER w AS c,
        |    CAST(sum(rev) OVER w AS DOUBLE) AS s1,
        |    CAST(sum(CAST(rev AS DECIMAL(19,6)) * rev) OVER w AS DOUBLE)
        |      AS s2
        |  FROM daily
        |  WINDOW w AS (PARTITION BY year(d) ORDER BY d
        |    ROWS BETWEEN 6 PRECEDING AND CURRENT ROW))
        |SELECT d, CAST(rev AS DOUBLE) AS revenue,
        |  round((CAST(rev AS DOUBLE) - s1/7) / sqrt((7*s2 - s1*s1)/42), 4)
        |    AS z
        |FROM win WHERE c = 7 AND (7*s2 - s1*s1) > 0
        |ORDER BY d""".stripMargin)),
    Entry("q159_ab_test", q159_ab_test, Some(
      """WITH arms AS (
        |  SELECT DISTINCT user_id,
        |    CASE WHEN substr(md5(CAST(user_id AS VARCHAR)), 1, 1) < '8'
        |      THEN 'a' ELSE 'b' END AS arm
        |  FROM events),
        |conv AS (SELECT DISTINCT user_id FROM events
        |         WHERE event_type = 'purchase' AND value > 180),
        |per AS (
        |  SELECT arm, count(*) AS n, count(c.user_id) AS k
        |  FROM arms a LEFT JOIN conv c USING (user_id) GROUP BY 1),
        |wide AS (
        |  SELECT max(CASE WHEN arm='a' THEN n END) AS n_a,
        |    max(CASE WHEN arm='a' THEN k END) AS k_a,
        |    max(CASE WHEN arm='b' THEN n END) AS n_b,
        |    max(CASE WHEN arm='b' THEN k END) AS k_b
        |  FROM per)
        |SELECT n_a, k_a, n_b, k_b,
        |  round(CAST(k_a AS DOUBLE)/n_a, 4) AS p_a,
        |  round(CAST(k_b AS DOUBLE)/n_b, 4) AS p_b,
        |  round((CAST(k_a AS DOUBLE)/n_a - CAST(k_b AS DOUBLE)/n_b)
        |    / sqrt((CAST(k_a+k_b AS DOUBLE)/(n_a+n_b))
        |      * (1 - CAST(k_a+k_b AS DOUBLE)/(n_a+n_b))
        |      * (1.0/n_a + 1.0/n_b)), 4) AS z
        |FROM wide""".stripMargin)),
    Entry("q160_monthly_growth", q160_monthly_growth, Some(
      """WITH monthly AS (
        |  SELECT date_trunc('month', o_orderdate) AS m,
        |    count(*) AS n_orders,
        |    sum(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
        |  FROM orders GROUP BY 1)
        |SELECT a.m, a.n_orders, CAST(a.rev AS DOUBLE) AS revenue,
        |  round((CAST(a.rev AS DOUBLE) - CAST(b.rev AS DOUBLE))
        |    / CAST(b.rev AS DOUBLE), 4) AS mom_growth
        |FROM monthly a LEFT JOIN monthly b ON b.m = a.m - INTERVAL 1 MONTH
        |ORDER BY a.m""".stripMargin)),
    Entry("q162_latency_percentiles", q162_latency_percentiles, Some(
      """SELECT date_trunc('month', o_orderdate) AS m,
        |  count(*) AS n_lines,
        |  round(quantile_cont(lat, 0.5), 4) AS p50,
        |  round(quantile_cont(lat, 0.9), 4) AS p90,
        |  round(quantile_cont(lat, 0.99), 4) AS p99
        |FROM (
        |  SELECT o_orderdate,
        |    date_diff('day', o_orderdate, l_shipdate) AS lat
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey)
        |GROUP BY 1 ORDER BY 1""".stripMargin)),
    Entry("q163_active_users", q163_active_users, Some(
      """WITH p AS (SELECT DISTINCT date_trunc('day', ts) AS d, user_id
        |           FROM events),
        |dau AS (SELECT d, count(*) AS dau FROM p GROUP BY 1),
        |tgt AS (SELECT DISTINCT unnest(generate_series(d,
        |    d + INTERVAL 6 DAY, INTERVAL 1 DAY)) AS td, user_id FROM p),
        |wau AS (SELECT td, count(*) AS wau FROM tgt GROUP BY 1)
        |SELECT dau.d, dau.dau, wau.wau,
        |  round(CAST(dau.dau AS DOUBLE)/wau.wau, 4) AS stickiness
        |FROM dau JOIN wau ON wau.td = dau.d ORDER BY d""".stripMargin)),
    Entry("q164_revenue_acf", q164_revenue_acf, Some(
      """WITH daily AS (
        |  SELECT date_trunc('day', l_shipdate) AS d,
        |    CAST(sum(CAST(l_extendedprice*(1-l_discount)
        |      AS DECIMAL(18,6))) AS DECIMAL(18,6)) AS x
        |  FROM lineitem GROUP BY 1),
        |lags(k) AS (VALUES (1), (7), (28)),
        |pairs AS (
        |  SELECT l.k, a.x AS x, b.x AS y
        |  FROM lags l
        |  JOIN daily a ON TRUE
        |  JOIN daily b ON b.d = a.d - l.k * INTERVAL 1 DAY),
        |s AS (
        |  SELECT k, count(*) AS n,
        |    CAST(sum(x) AS DOUBLE) AS sx, CAST(sum(y) AS DOUBLE) AS sy,
        |    CAST(sum(CAST(x AS DECIMAL(19,6)) * y) AS DOUBLE) AS sxy,
        |    CAST(sum(CAST(x AS DECIMAL(19,6)) * x) AS DOUBLE) AS sxx,
        |    CAST(sum(CAST(y AS DECIMAL(19,6)) * y) AS DOUBLE) AS syy
        |  FROM pairs GROUP BY 1)
        |SELECT k AS lag, n,
        |  round((n*sxy - sx*sy)
        |    / (sqrt(n*sxx - sx*sx) * sqrt(n*syy - sy*sy)), 4) AS acf
        |FROM s ORDER BY lag""".stripMargin)),
    Entry("q167_balance_gini", q167_balance_gini, Some(
      """WITH x AS (
        |  SELECT n_name AS nation, CAST(c_acctbal AS DECIMAL(18,2)) AS bal,
        |    row_number() OVER (PARTITION BY c_nationkey
        |      ORDER BY c_acctbal, c_custkey) AS i,
        |    count(*) OVER (PARTITION BY c_nationkey) AS n
        |  FROM customer JOIN nation ON c_nationkey = n_nationkey
        |), g AS (
        |  SELECT nation, max(n) AS n, sum((2*i - n - 1) * bal) AS num_d,
        |    sum(bal) AS s_d
        |  FROM x GROUP BY nation)
        |SELECT nation, n,
        |  round(CAST(num_d AS DOUBLE) / (n * CAST(s_d AS DOUBLE)), 4) AS gini
        |FROM g ORDER BY nation""".stripMargin)),
    Entry("q174_event_trigrams", q174_event_trigrams, Some(
      """WITH seq AS (
        |  SELECT event_type e1,
        |    lead(event_type, 1) OVER w e2,
        |    lead(event_type, 2) OVER w e3
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |)
        |SELECT e1, e2, e3, count(*) AS n
        |FROM seq WHERE e3 IS NOT NULL
        |GROUP BY 1, 2, 3
        |ORDER BY n DESC, e1, e2, e3 LIMIT 20""".stripMargin)))
}
