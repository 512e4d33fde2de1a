package graft

import org.apache.spark.TestListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.functions.{SketchExprs, VectorExprs}
import graft.operators.{Dedup, Graph, IndexStore, Joins, PlanUtil}

/** Spark jobs per operation: no job for an answer graft already holds.
  * A build-once artifact reopened in the same session is served from
  * the `Tables` plan memo, counts after a checkpoint come from an
  * Observation on the checkpointing action, PageRank's iterations join
  * the edges with the ranks directly and aggregate once, and a
  * winnowing df prune that could drop nothing does not run. Jobs are
  * counted by a listener on every job start, from any thread, once the
  * listener bus has drained.
  */
class JobBudgetSpec extends SparkSpec {
  import spark.implicits._

  // the seed-42 sf0.001 catalog checked in beside the benchmark (read
  // only; specs run from the repo root)
  private val sf = "perfbench/fixture/sf0.001"

  /** Jobs started while `body` runs, from any thread: a streaming query
    * runs its micro-batches on its own thread under its own job group,
    * so a count by the caller's group would miss them. Suites in the
    * forked test JVM run one at a time, so the global count sees only
    * the body's jobs.
    */
  private def jobsOf[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val started = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        started.incrementAndGet(): Unit
    }
    // earlier jobs' queued events must not reach the new listener
    TestListenerBus.drain(sc)
    sc.addSparkListener(listener)
    try {
      val r = body
      TestListenerBus.drain(sc)
      (r, started.get())
    } finally sc.removeSparkListener(listener)
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

  test("jobsOf counts the jobs a streaming query runs on its own thread") {
    val dir = java.nio.file.Files.createTempDirectory("graft_budget_stream")
    SparkSpec.cleanupAtExit(dir.toFile)
    java.nio.file.Files.writeString(dir.resolve("part-0.csv"),
      "k,v\na,1\nb,2\n")
    val schema = new org.apache.spark.sql.types.StructType()
      .add("k", "string").add("v", "int")
    val stream = streaming.Streams.csvStream(spark, dir.toString, schema)
    val (out, jobs) = jobsOf(
      streaming.Streams.runToMemory(stream, "budget_stream"))
    assert(out.count() == 2)
    // the micro-batch's jobs carry the stream's job group, not ours
    assert(jobs >= 1, s"one micro-batch counted $jobs jobs")
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

  /** The [[Dedup.sigRelation]] of `df` keyed `id` → `as`. */
  private def sigs(df: DataFrame, as: String): DataFrame =
    Dedup.sigRelation(df, "id", "text").withColumnRenamed("id", as)

  /** The admission step as two band joins — the batch against the
    * corpus, then against itself — each verified and aggregated on its
    * own, then two left joins onto the batch: the oracle for the merged
    * one-join step.
    */
  private def twoJoinAdmit(batch: DataFrame, b: DataFrame, c: DataFrame,
      threshold: Double, bands: Int, rpb: Int): DataFrame = {
    def banded(df: DataFrame, id: String) = df.select(col(id),
      posexplode(SketchExprs.band_hashes(col("__sig"), bands, rpb))
        .as(Seq("__band", "__bh")))
    def verified(cand: DataFrame, l: DataFrame, r: DataFrame) = cand
      .join(l.select(col("id_a"), col("__sh").as("__sa")), "id_a")
      .join(r.select(col("id_b"), col("__sh").as("__sb")), "id_b")
      .withColumn("__i", VectorExprs.sorted_inter_count(col("__sa"),
        col("__sb")))
      .filter(round(col("__i").cast("double") / (size(col("__sa")) +
        size(col("__sb")) - col("__i")), 4) >= threshold)
    val bRight = b.withColumnRenamed("id_a", "id_b")
    val cross = banded(b, "id_a").join(banded(c, "id_b"),
      Seq("__band", "__bh")).select("id_a", "id_b").distinct()
    val within = banded(b, "id_a").join(banded(bRight, "id_b"),
        Seq("__band", "__bh"))
      .filter(col("id_a") < col("id_b")).select("id_a", "id_b").distinct()
    val corpusMatch = verified(cross, b, c).groupBy("id_a")
      .agg(min(col("id_b")).as("__cm"))
    val batchMatch = verified(within, b, bRight).groupBy("id_b")
      .agg(min(col("id_a")).as("__bm"))
    batch.select(col("id"))
      .join(corpusMatch, col("id") === col("id_a"), "left").drop("id_a")
      .join(batchMatch, col("id") === col("id_b"), "left").drop("id_b")
      .select(col("id"),
        when(col("__cm").isNotNull, lit("corpus_dup"))
          .when(col("__bm").isNotNull, lit("batch_dup"))
          .otherwise(lit("keep")).as("status"),
        coalesce(col("__cm"), col("__bm")).as("match_id"))
  }

  test("admitStep: one band join admits a batch within its job budget") {
    val d = Tables(spark, sf, "documents")
      .select(col("doc_id").as("id"), col("text"))
    val (corpus, batch) = (d.filter(col("id") % 7 =!= 0),
      d.filter(col("id") % 7 === 0))
    val (b, c) = (sigs(batch, "id_a"), sigs(corpus, "id_b"))
    val (status, jobs) = jobsOf(Dedup.admitStep(batch, b, c, "id", 0.5,
      64, 2))
    assert(rows(status) == rows(twoJoinAdmit(batch, b, c, 0.5, 64, 2)))
    // the band join, verify, aggregate and verdict join, checkpointed;
    // separate corpus and within-batch joins, verifies and aggregates
    // made it 11
    assert(jobs <= 8, s"admitStep ran $jobs jobs")
  }

  test("admitStep equals the two-join admission on fuzzed batches " +
      "(colliding ids, shingle-less docs, planted near-copies)") {
    val verdicts = for (seed <- 1L to 6L; threshold <- Seq(0.3, 0.5, 0.8))
        yield {
      val rnd = new java.util.SplittableRandom(seed)
      val vocab = Array.tabulate(30)(i => s"w$i")
      def text(): String = Seq.fill(4 + rnd.nextInt(10))(
        vocab(rnd.nextInt(vocab.length))).mkString(" ")
      def nearCopy(t: String): String = {
        val w = t.split(" ")
        w.updated(rnd.nextInt(w.length), "MUT").mkString(" ")
      }
      def shingleLess(): String =
        Seq.fill(rnd.nextInt(3))(vocab(rnd.nextInt(vocab.length)))
          .mkString(" ")
      // corpus ids 0..39, batch ids 30..69: ids 30..39 sit on both
      // sides, and batch docs 30..32 copy the corpus doc of their id
      val corpus = (0L until 40L).map(id =>
        (id, if (rnd.nextInt(8) == 0) shingleLess() else text()))
      val batch = (30L until 70L).foldLeft(Vector.empty[(Long, String)]) {
        case (acc, id) =>
          val t = rnd.nextInt(6) match {
            case _ if id == 30L => corpus(30)._2
            case _ if id < 33L => nearCopy(corpus(id.toInt)._2)
            case 0 => nearCopy(corpus(rnd.nextInt(corpus.size))._2)
            case 1 => corpus(rnd.nextInt(corpus.size))._2
            case 2 if acc.nonEmpty => nearCopy(acc(rnd.nextInt(acc.size))._2)
            case 3 => shingleLess()
            case _ => text()
          }
          acc :+ (id -> t)
      }
      val (cDf, bDf) = (corpus.toDF("id", "text"), batch.toDF("id", "text"))
      val (b, c) = (sigs(bDf, "id_a"), sigs(cDf, "id_b"))
      val got = Dedup.admitStep(bDf, b, c, "id", threshold, 64, 2)
      assert(rows(got) == rows(twoJoinAdmit(bDf, b, c, threshold, 64, 2)),
        s"seed $seed, threshold $threshold")
      got.collect().map(r => (r.getString(1), r.getLong(0) < 40L &&
        !r.isNullAt(2) && r.getLong(2) == r.getLong(0))).toSet
    }
    // every verdict occurs, and some batch doc matches the corpus doc
    // that carries its own id
    val seen = verdicts.flatten.toSet
    assert(Set("corpus_dup", "batch_dup", "keep").subsetOf(seen.map(_._1)),
      seen)
    assert(seen.contains(("corpus_dup", true)), seen)
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
