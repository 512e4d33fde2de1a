package graft

import org.apache.spark.sql.functions._

import graft.plans.AsOfJoin

class AsOfJoinSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  test("native as-of join: basic, ties, unmatched") {
    val trades = Seq(
      (1L, ts("2024-01-01 10:00:05"), "t1"),
      (1L, ts("2024-01-01 10:00:00"), "t2"), // exactly at quote time
      (2L, ts("2024-01-01 09:00:00"), "t3"), // before any quote
      (3L, ts("2024-01-01 12:00:00"), "t4")) // key with no quotes
      .toDF("sym", "t_ts", "trade")
    val quotes = Seq(
      (1L, ts("2024-01-01 10:00:00"), 100.0),
      (1L, ts("2024-01-01 10:00:03"), 101.0),
      (2L, ts("2024-01-01 09:30:00"), 50.0))
      .toDF("q_sym", "q_ts", "px")

    val out = AsOfJoin.asofJoin(trades, quotes, "sym", "q_sym", "t_ts", "q_ts")
      .select(col("trade"), col("px")).collect()
      .map(r => (r.getString(0), if (r.isNullAt(1)) null else r.getDouble(1)))
      .toMap
    assert(out("t1") == 101.0) // latest quote <= 10:00:05
    assert(out("t2") == 100.0) // equality counts
    assert(out("t3") == null)  // no quote yet
    assert(out("t4") == null)  // unknown key
  }

  test("SQL-spelled as-of join via GraftSession.init (asof_marker in join ON)") {
    GraftSession.init(spark)
    Seq((1L, ts("2024-01-01 10:00:05"), "t1"),
      (2L, ts("2024-01-01 09:00:00"), "t3"))
      .toDF("sym", "t_ts", "trade").createOrReplaceTempView("sql_trades")
    Seq((1L, ts("2024-01-01 10:00:03"), 101.0),
      (1L, ts("2024-01-01 10:00:04"), 102.0))
      .toDF("q_sym", "q_ts", "px").createOrReplaceTempView("sql_quotes")
    val out = spark.sql(
      """SELECT trade, px FROM sql_trades LEFT JOIN sql_quotes
        |ON asof_marker(sym, q_sym, t_ts, q_ts, 'broadcast')""".stripMargin)
      .collect()
      .map(r => r.getString(0) -> (if (r.isNullAt(1)) null else r.getDouble(1)))
      .toMap
    assert(out == Map("t1" -> 102.0, "t3" -> null))
  }

  test("native as-of join matches the compositional q23 result") {
    val dir = "/root/testdata/sf0.001"
    val e = Tables(spark, dir, "events").select(col("event_id"), col("user_id"), col("ts"))
    // pre-sort build side by orderkey so equal-date ties resolve to the
    // max key, matching q23's desc tiebreak
    val o = Tables(spark, dir, "orders")
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    val native = AsOfJoin.asofJoin(e, o, "user_id", "o_custkey", "ts", "o_orderdate")
      .select(col("event_id"), col("o_orderkey"))
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(1)) -1L else r.getLong(1))).toMap
    val composed = RelationalQueries.q23_asof_join(spark, dir)
      .select(col("event_id"), col("last_order"))
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(1)) -1L else r.getLong(1))).toMap
    assert(native.size == composed.size)
    val diffs = composed.collect {
      case (k, v) if native.getOrElse(k, -2L) != v => (k, v, native.get(k))
    }
    assert(diffs.isEmpty, s"first diffs: ${diffs.take(5)}")
  }

  test("physical plan contains AsOfBroadcastExec (strategy fired)") {
    val e = Tables(spark, "/root/testdata/sf0.001", "events")
      .select(col("event_id"), col("user_id"), col("ts"))
    val o = Tables(spark, "/root/testdata/sf0.001", "orders")
    val plan = AsOfJoin.asofJoin(e, o, "user_id", "o_custkey", "ts", "o_orderdate")
      .queryExecution.sparkPlan.toString // pre-AQE physical plan
    // TreeNode.nodeName strips the Exec suffix
    assert(plan.startsWith("AsOfBroadcast"), plan.take(500))
  }

  private def withStrategy[T](mode: String)(body: => T): T = {
    spark.conf.set(AsOfJoin.StrategyConfKey, mode)
    try body finally spark.conf.unset(AsOfJoin.StrategyConfKey)
  }

  test("sort-merge as-of: basic, ties, unmatched (forced via conf)") {
    withStrategy("sortmerge") {
      val trades = Seq(
        (1L, ts("2024-01-01 10:00:05"), "t1"),
        (1L, ts("2024-01-01 10:00:00"), "t2"),
        (2L, ts("2024-01-01 09:00:00"), "t3"),
        (3L, ts("2024-01-01 12:00:00"), "t4"))
        .toDF("sym", "t_ts", "trade")
      val quotes = Seq(
        (1L, ts("2024-01-01 10:00:00"), 100.0),
        (1L, ts("2024-01-01 10:00:03"), 101.0),
        (2L, ts("2024-01-01 09:30:00"), 50.0))
        .toDF("q_sym", "q_ts", "px")
      val df = AsOfJoin.asofJoin(trades, quotes, "sym", "q_sym", "t_ts", "q_ts")
      assert(df.queryExecution.sparkPlan.toString.contains("AsOfSortMerge"))
      val out = df.select(col("trade"), col("px")).collect()
        .map(r => (r.getString(0), if (r.isNullAt(1)) null else r.getDouble(1)))
        .toMap
      assert(out("t1") == 101.0)
      assert(out("t2") == 100.0)
      assert(out("t3") == null)
      assert(out("t4") == null)
    }
  }

  test("sort-merge as-of: equal-time ties resolve to greatest tieBreak") {
    val trades = Seq((1L, ts("2024-01-01 10:00:05"), "t1"))
      .toDF("sym", "t_ts", "trade")
    val quotes = Seq(
      (1L, ts("2024-01-01 10:00:00"), 7L, 100.0),
      (1L, ts("2024-01-01 10:00:00"), 9L, 101.0),
      (1L, ts("2024-01-01 10:00:00"), 8L, 102.0))
      .toDF("q_sym", "q_ts", "q_id", "px")
    for (mode <- Seq("sortmerge", "broadcast")) withStrategy(mode) {
      val out = AsOfJoin.asofJoin(trades, quotes, "sym", "q_sym", "t_ts", "q_ts",
          rightTieBreak = Seq(quotes("q_id")))
        .select(col("px")).collect()
      assert(out.length == 1 && out(0).getDouble(0) == 101.0,
        s"mode=$mode picked ${out.toSeq}")
    }
  }

  test("sort-merge as-of equals broadcast as-of on testdata") {
    val dir = "/root/testdata/sf0.001"
    val e = Tables(spark, dir, "events")
      .select(col("event_id"), col("user_id"), col("ts"))
    val o = Tables(spark, dir, "orders")
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"))
    def run(mode: String) = withStrategy(mode) {
      AsOfJoin.asofJoin(e, o, "user_id", "o_custkey", "ts", "o_orderdate",
          rightTieBreak = Seq(o("o_orderkey")))
        .select(col("event_id"), col("o_orderkey"))
        .collect().map(r => (r.getLong(0),
          if (r.isNullAt(1)) -1L else r.getLong(1))).toMap
    }
    val smj = run("sortmerge")
    val bcast = run("broadcast")
    assert(smj.size == bcast.size && smj == bcast,
      s"first diffs: ${bcast.collect {
        case (k, v) if smj.getOrElse(k, -2L) != v => (k, v, smj.get(k))
      }.take(5)}")
  }

  test("per-join strategy is pinned in the plan, not session conf") {
    val trades = Seq((1L, ts("2024-01-01 10:00:05"), "t1"))
      .toDF("sym", "t_ts", "trade")
    val quotes = Seq((1L, ts("2024-01-01 10:00:00"), 100.0))
      .toDF("q_sym", "q_ts", "px")
    val smj = AsOfJoin.asofJoin(trades, quotes, "sym", "q_sym", "t_ts", "q_ts",
      strategy = "sortmerge")
    val bc = AsOfJoin.asofJoin(trades, quotes, "sym", "q_sym", "t_ts", "q_ts",
      strategy = "broadcast")
    // building/planning bc must not flip smj's exec (the old conf-only
    // routing did exactly that when actions ran after both builds)
    assert(bc.queryExecution.executedPlan.toString.contains("AsOfBroadcast"))
    assert(smj.queryExecution.executedPlan.toString.contains("AsOfSortMerge"))
    assert(smj.select(col("px")).collect()(0).getDouble(0) == 100.0)
  }

  test("broadcast build side over the row cap fails fast, actionably") {
    val trades = Seq((1L, ts("2024-01-01 10:00:05"), "t1"))
      .toDF("sym", "t_ts", "trade")
    val quotes = (1 to 10).map(i =>
        (1L, ts(f"2024-01-01 10:00:0${i % 10}"), i.toDouble))
      .toDF("q_sym", "q_ts", "px")
    val key = graft.plans.AsOfJoin.BroadcastMaxRowsKey
    spark.conf.set(key, "3")
    try {
      val e = intercept[Exception] {
        AsOfJoin.asofJoin(trades, quotes, "sym", "q_sym", "t_ts", "q_ts",
          strategy = "broadcast").collect()
      }
      val msg = Option(e.getMessage).getOrElse("") +
        Option(e.getCause).map(_.getMessage).getOrElse("")
      assert(msg.contains("sortmerge") && msg.contains(key), msg)
      // under the cap it still runs
      spark.conf.set(key, "1000")
      val ok = AsOfJoin.asofJoin(trades, quotes, "sym", "q_sym",
        "t_ts", "q_ts", strategy = "broadcast").collect()
      assert(ok.nonEmpty)
    } finally spark.conf.unset(key)
  }

  test("broadcast path: null tieBreak values don't NPE and lose ties") {
    val trades = Seq((1L, ts("2024-01-01 10:00:05"), "t1"))
      .toDF("sym", "t_ts", "trade")
    val quotes = Seq(
      (1L, ts("2024-01-01 10:00:00"), 100.0, Option.empty[Long]),
      (1L, ts("2024-01-01 10:00:00"), 101.0, Some(7L)))
      .toDF("q_sym", "q_ts", "px", "q_id")
    val out = AsOfJoin.asofJoin(trades, quotes, "sym", "q_sym", "t_ts", "q_ts",
        rightTieBreak = Seq(quotes("q_id")), strategy = "broadcast")
      .select(col("px")).collect()
    assert(out.length == 1 && out(0).getDouble(0) == 101.0) // non-null wins
  }
}
