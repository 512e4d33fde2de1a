package graft

import org.apache.spark.TestListenerBus
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.operators.{Graph, IndexStore, Joins, PlanUtil}

/** Spark jobs per operation: no job for an answer graft already holds.
  * A build-once artifact reopened in the same session is served from
  * the `Tables` plan memo, counts after a checkpoint come from an
  * Observation on the checkpointing action, PageRank's iterations join
  * the edges with the ranks directly and aggregate once, and a
  * winnowing df prune that could drop nothing does not run. Jobs are
  * counted by job group through the status tracker once the listener
  * bus has drained.
  */
class JobBudgetSpec extends SparkSpec {
  import spark.implicits._

  // the seed-42 sf0.001 catalog checked in beside the benchmark (read
  // only; specs run from the repo root)
  private val sf = "perfbench/fixture/sf0.001"

  private def jobsOf[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val group = s"budget-${java.util.UUID.randomUUID()}"
    sc.setJobGroup(group, group)
    val r = try body finally sc.clearJobGroup()
    TestListenerBus.drain(sc)
    (r, sc.statusTracker.getJobIdsForGroup(group).length)
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  test("a second open of each build-once artifact in one session runs " +
      "no job") {
    val opens: Seq[(String, () => DataFrame)] = Seq(
      "TradeGraph.pairOrders" -> (() => TradeGraph.pairOrders(spark, sf)),
      "CoPurchase.pairCounts" -> (() => CoPurchase.pairCounts(spark, sf)),
      "ContainmentRel.docMap" -> (() => ContainmentRel.docMap(spark, sf)),
      "ContainmentRel.repPairs" -> (() => ContainmentRel.repPairs(spark, sf)),
      "NearDupGraph.pairs05" -> (() => NearDupGraph.pairs05(spark, sf)),
      "NearDupGraph.labels05" -> (() => NearDupGraph.labels05(spark, sf)),
      "StoreQueries.ingest2Merged" ->
        (() => StoreQueries.ingest2Merged(spark, sf)),
      "q204_neardup_ingest" ->
        (() => StoreQueries.q204_neardup_ingest(spark, sf)),
      "q206_neardup_sig_store" ->
        (() => StoreQueries.q206_neardup_sig_store(spark, sf)),
      "q211_neardup_admit_stream" ->
        (() => StoreQueries.q211_neardup_admit_stream(spark, sf)))
    for ((name, open) <- opens) {
      val first = open()
      val (second, jobs) = jobsOf(open())
      assert(jobs == 0, s"$name: reopening ran $jobs job(s)")
      assert(second.schema == first.schema, name)
    }
    // the memo hands back the plan itself, and it still scans the file
    assert(TradeGraph.pairOrders(spark, sf) eq TradeGraph.pairOrders(spark, sf))
    assert(CoPurchase.pairCounts(spark, sf).count() ==
      spark.read.parquet(TmpDirs.buildOnce("copurchase_rel", sf)(_ =>
        fail("pairCounts did not register its build"))).count())
  }

  test("an appended store is not memoized: loadSig sees rows appended " +
      "after the store was opened") {
    val dir = java.nio.file.Files.createTempDirectory("graft_budget_sig")
    SparkSpec.cleanupAtExit(dir.toFile)
    val store = s"$dir/store"
    val docs = Seq((1L, "the quick brown fox jumps over"),
      (2L, "a lazy dog sleeps in the sun")).toDF("id", "text")
    IndexStore.saveSig(spark, store,
      operators.Dedup.sigRelation(docs, "id", "text"), "id", 3, 128)
    val before = IndexStore.loadSig(spark, store)._4
    assert(before.count() == 2)
    val more = Seq((3L, "an entirely different sentence about graphs"))
      .toDF("id", "text")
    IndexStore.appendCodes(spark, store,
      operators.Dedup.sigRelation(more, "id", "text"), "id")
    val after = IndexStore.loadSig(spark, store)._4
    assert(after.select(col("id")).as[Long].collect().sorted.toSeq ==
      Seq(1L, 2L, 3L))
  }

  test("checkpointCounted's count equals count() on full, empty, " +
      "zero-partition and disk-only frames") {
    val full = spark.range(0, 1000, 1, 4).toDF("x")
      .filter(col("x") % 7 =!= 0)
    val frames: Seq[(String, DataFrame, Option[StorageLevel])] = Seq(
      ("filtered range", full, None),
      ("shuffled distinct", full.select(col("x") % 13).distinct(), None),
      ("disk-only", full.repartition(col("x")),
        Some(StorageLevel.DISK_ONLY)),
      ("empty after filter", full.filter(lit(false)), None),
      ("empty shuffle", full.filter(lit(false)).distinct(), None),
      ("zero partitions", spark.emptyDataFrame, None),
      ("empty local rows", Seq.empty[(Long, String)].toDF("a", "b"), None))
    for ((name, df, level) <- frames) {
      val (ck, n) = PlanUtil.checkpointCounted(df, level)
      assert(n == df.count(), name)
      assert(ck.count() == n, name)
    }
    // the checkpoint keeps the hash partitioning the caller shuffled to
    val (byX, _) = PlanUtil.checkpointCounted(full.repartition(col("x")))
    assert(byX.groupBy(col("x")).count().queryExecution.executedPlan
      .collect { case s: org.apache.spark.sql.execution.exchange
        .ShuffleExchangeExec => s }.isEmpty)
  }

  test("hopDistances: an empty seed set or an empty first frontier " +
      "stops at once, and distances match the BFS") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)).toDF("u", "v")
    def hops(seeds: Seq[Long], maxHops: Int = 12) =
      Graph.hopDistances(edges, col("u"), col("v"), seeds.toDF("s"),
        col("s"), maxHops).as[(Long, Int)].collect().toSeq.sorted
    assert(hops(Nil).isEmpty)
    assert(hops(Seq(99L)) == Seq((99L, 0)))
    assert(hops(Seq(4L)) == Seq((4L, 0)))
    assert(hops(Seq(1L)) == Seq((1L, 0), (2L, 1), (3L, 2), (4L, 3)))
    assert(hops(Seq(1L, 10L), maxHops = 1) ==
      Seq((1L, 0), (2L, 1), (10L, 0), (11L, 1)))
    // the frontier sizes ride the checkpoints: an exhausted search from
    // one seed of a 3-hop chain (4 rounds) and an empty seed set (no
    // round) run only checkpoint jobs — a count() per round made it 31
    // and 4
    val (_, jobs) = jobsOf(Graph.hopDistances(edges, col("u"), col("v"),
      Seq(1L).toDF("s"), col("s")))
    val (_, jobsNone) = jobsOf(Graph.hopDistances(edges, col("u"), col("v"),
      Seq.empty[Long].toDF("s"), col("s")))
    assert(jobs <= 22 && jobsNone <= 3, s"$jobs, $jobsNone")
  }

  test("bloomPrunedSemiJoin: an empty small side gives an empty result; " +
      "otherwise it equals the semi join") {
    val big = spark.range(0, 500).toDF("k")
    val small = Seq(3L, 77L, 499L, 1000L).toDF("s")
    assert(Joins.bloomPrunedSemiJoin(big, small.filter(lit(false)), "k", "s")
      .count() == 0)
    val (got, jobs) = jobsOf(rows(Joins.bloomPrunedSemiJoin(big, small,
      "k", "s")))
    assert(got == rows(Joins.semiJoin(big, small, "k", "s")))
    // checkpoint, bloom build and the join; a count() after the
    // checkpoint made it 7
    assert(jobs <= 5, s"bloomPrunedSemiJoin ran $jobs jobs")
  }

  test("connectedComponents: the edge count that picks the union-find " +
      "endgame is the mirrored edge count") {
    // a 64-node path: 63 pairs mirror to 126 directed edges, and the
    // distributed loop would need 64 rounds, past its 50-round cap —
    // so the endgame must run at a limit of 126 and must not at 125
    val n = 64L
    val vertices = spark.range(1, n + 1).toDF("id")
    val chain = (1L until n).map(i => (i, i + 1)).toDF("a", "b")
    val labels = operators.Dedup.connectedComponents(vertices, "id", chain,
        "a", "b", localEdgeLimit = 126L)
      .collect().map(_.getLong(1))
    assert(labels.length == n && labels.forall(_ == 1L))
    val e = intercept[IllegalArgumentException] {
      operators.Dedup.connectedComponents(vertices, "id", chain, "a", "b",
        localEdgeLimit = 125L)
    }
    assert(e.getMessage.contains("did not converge"))
  }

  test("winnowingPairs: an input of at most maxFingerprintDf rows skips " +
      "the df prune and gives the unpruned pairs") {
    // a shared four-token prefix gives every doc the same first window
    // minimum: a fingerprint with df 3
    val docs = Seq(
      (1L, "lorem ipsum dolor sit alpha beta gamma delta epsilon zeta"),
      (2L, "lorem ipsum dolor sit alpha beta gamma delta epsilon eta"),
      (3L, "lorem ipsum dolor sit kappa lambda mu nu xi omicron"))
      .toDF("id", "text")
    def pairs(maxDf: Long) = operators.Dedup.winnowingPairs(docs, "id",
      "text", k = 2, w = 2, minShared = 1, maxFingerprintDf = maxDf)
    val unpruned = rows(pairs(0L))
    val (skipped, jobsSkip) = jobsOf(rows(pairs(3L)))
    val (pruned, jobsPrune) = jobsOf(rows(pairs(2L)))
    assert(skipped == unpruned)
    // past the row count the prune still runs and drops the df-3 prefix
    // fingerprint: docs 1 and 3 share nothing else
    assert(unpruned.exists(_.startsWith("[1,3,")))
    assert(!pruned.exists(_.startsWith("[1,3,")))
    assert(pruned.exists(_.startsWith("[1,2,")))
    assert(jobsSkip < jobsPrune, s"$jobsSkip vs $jobsPrune")
  }

  private val graph = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 2L),
    (5L, 1L), (1L, 4L)).toDF("s", "d")

  test("pageRank: N is the node count and the run stays within its " +
      "job budget") {
    val (ranks, jobs) = jobsOf(Graph.pageRank(graph, col("s"), col("d"),
      iters = 2).as[(Long, Double)].collect().toMap)
    assert(ranks.keySet == Set(1L, 2L, 3L, 4L, 5L))
    // node 5 has no in-edge: it settles at the teleport mass (1 - d)/N
    assert(ranks(5L) == (1.0 - 0.85) / 5)
    // edges, nodes with their out-strength, the first iteration and a
    // collect that runs the second; a separate out-strength checkpoint,
    // a count(), a rate join and a join back to the node set per
    // iteration and a checkpoint of the last made it 20
    assert(jobs <= 10, s"pageRank(iters = 2) ran $jobs jobs")
    val (_, jobsW) = jobsOf(Graph.pageRank(
      graph.withColumn("w", col("s") + 1), col("s"), col("d"), iters = 2,
      weightCol = Some(col("w"))).collect())
    assert(jobsW <= 10, s"weighted pageRank(iters = 2) ran $jobsW jobs")
  }

  test("triangleCounts: m is the canonical edge count and the census " +
      "stays within its job budget") {
    val (tri, jobs) = jobsOf(Graph.triangleCounts(graph, col("s"), col("d"))
      .as[(Long, Long, Long)].collect().toSeq.sorted)
    assert(tri == Seq((1L, 4L, 3L), (2L, 3L, 3L), (3L, 3L, 3L),
      (4L, 3L, 3L), (5L, 1L, 0L)))
    // a count() after the edge checkpoint made it 15
    assert(jobs <= 13, s"triangleCounts ran $jobs jobs")
    // 7 canonical edges: a cap of 7 keeps the broadcast probe, a cap of
    // 6 switches to the bloom-pruned census, with the same answer
    def plan(cap: Long) = {
      val df = Graph.triangleCounts(graph, col("s"), col("d"),
        broadcastEdgeLimit = cap)
      (df.queryExecution.optimizedPlan.toString,
        df.as[(Long, Long, Long)].collect().toSeq.sorted)
    }
    val (atCap, atCapRows) = plan(7)
    val (underCap, underCapRows) = plan(6)
    assert(!atCap.contains("bloom_contains_bc"))
    assert(underCap.contains("bloom_contains_bc"))
    assert(atCapRows == tri && underCapRows == tri)
  }
}
