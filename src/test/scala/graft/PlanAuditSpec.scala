package graft

/** Pins the scale-critical PHYSICAL-plan properties the PLANS.md audit
  * documents, so a refactor that silently loses a pushdown, a broadcast,
  * a top-k fusion, or a map-side window limit fails CI instead of only
  * showing up as a 100 TB regression.
  */
class PlanAuditSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def planOf(name: String): String = {
    val df = SparkEntry.queries(name)(spark, dir)
    df.queryExecution.executedPlan.toString
  }

  test("q01: filter and projection reach the parquet scan") {
    val p = planOf("q01_agg_basic")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate")
      || p.contains("PushedFilters: [LessThanOrEqual(l_shipdate"), p.take(600))
    // column pruning: the 16-column lineitem scan reads a narrow schema
    assert(!p.contains("l_comment"), "scan must not read unused columns")
  }

  test("q06/q16: top-k and head fuse to TakeOrderedAndProject / limits") {
    assert(planOf("q06_topk").contains("TakeOrderedAndProject"))
  }

  test("q07: dimension-side broadcast join, no shuffle of the big side") {
    val p = planOf("q07_join_inner")
    assert(p.contains("BroadcastHashJoin"), p.take(400))
  }

  test("q55: row_number cap prunes map-side via WindowGroupLimit") {
    val p = planOf("q55_cap_per_group")
    assert(p.contains("WindowGroupLimit"), p.take(600))
  }

  test("q48/q50: the pinned as-of strategies plan their own execs") {
    // SparkPlan.nodeName strips the Exec suffix in plan strings
    assert(planOf("q48_asof_native").contains("AsOfSortMerge"))
    assert(planOf("q50_asof_broadcast").contains("AsOfBroadcast"))
  }

  test("q58: contamination is a single corpus pass (2 scans total)") {
    val p = planOf("q58_contamination")
    assert("Scan parquet".r.findAllIn(p).length == 2, p.take(600))
  }

  test("q61/q62: range joins plan as equi-joins, never nested loops") {
    for (q <- Seq("q61_range_join", "q62_interval_overlap")) {
      val p = planOf(q)
      assert(!p.contains("BroadcastNestedLoop") && !p.contains("CartesianProduct"),
        s"$q: ${p.take(400)}")
    }
  }

  test("q63/q64: vocab and quantized scans end in TakeOrderedAndProject") {
    assert(planOf("q63_top_bigrams").contains("TakeOrderedAndProject"))
    assert(planOf("q64_quantized_dot").contains("TakeOrderedAndProject"))
  }

  test("q63: bigram count aggregates map-side before the shuffle") {
    // partial_count before the exchange = map-side combine on the ngram key
    val p = planOf("q63_top_bigrams")
    assert(p.contains("partial_count"), p.take(600))
  }

  test("q67/q68: direction-pinned as-of queries use their pinned execs") {
    assert(planOf("q67_asof_forward").contains("AsOfSortMerge"))
    assert(planOf("q68_asof_nearest").contains("AsOfBroadcast"))
  }

  test("q70: pivot with explicit values is one aggregation pass (1 scan)") {
    val p = planOf("q70_pivot")
    assert("Scan parquet".r.findAllIn(p).length == 1, p.take(600))
  }

  test("q94/q97: chunking and entropy have no data shuffle before output") {
    // q94: the only exchange is the deterministic output sort
    val p94 = planOf("q94_doc_chunks")
    assert("Exchange".r.findAllIn(p94).length == 1, p94.take(600))
    // q97: per-row HOF entropy — only the tiny per-lang agg shuffles
    val p97 = planOf("q97_token_entropy")
    assert(!p97.contains("Generate"), "entropy must not explode tokens")
  }

  test("q107: six-way star join never nested-loops or cartesians") {
    val p = planOf("q107_local_volume")
    assert(!p.contains("BroadcastNestedLoop") && !p.contains("CartesianProduct"),
      p.take(600))
  }

  test("q92: semantic-dedup pair generation is banded — no CartesianProduct") {
    import org.apache.spark.sql.functions.col
    val emb = Tables(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
    // the 7-bit × 9-band hand geometry: the fixture sits below its cap
    assert(!graft.operators.Similarity
      .autoLshGeometry(emb.count(), 7, 9, 0.99)._3)
    val p = graft.operators.Similarity
      .cosinePairsLshAuto(emb, "vec_id", "e", 0.9, dim = 64,
        planesPerBand = 7, bands = 9, targetCos = 0.99)
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoop"), p.take(600))
  }

  test("q93: prefix-filter containment join never cartesians") {
    val p = planOf("q93_containment_pairs")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoop"), p.take(600))
    // the candidate stage probes a hash-keyed postings join; the verify
    // joins run on candidate ids — every join in the plan is keyed
    assert(p.contains("hashjoin") || p.contains("HashJoin") ||
      p.contains("SortMergeJoin"), p.take(600))
  }

  test("q117: the Count-Min gate filters BELOW the exact-count aggregate " +
      "(shuffle carries only near-bar keys)") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter}
    val df = SparkEntry.queries("q117_heavy_hitters")(spark, dir)
    val plan = df.queryExecution.optimizedPlan
    val gatedAggs = plan.collect {
      case a: Aggregate if a.child.collectFirst {
        case f: Filter if f.condition.toString.contains("cms_estimate") => f
      }.nonEmpty => a
    }
    assert(gatedAggs.nonEmpty,
      s"no aggregate sits ON TOP of the cms_estimate gate:\n$plan")
    // and the physical exact count combines map-side before its exchange
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("partial_count"), p.take(600))
  }

  test("q118: bloom gate filters below the shuffle; ONE keyed LeftSemi " +
      "join, no BNL/cartesian") {
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, Join}
    import org.apache.spark.sql.catalyst.plans.LeftSemi
    val df = SparkEntry.queries("q118_bloom_semijoin")(spark, dir)
    val plan = df.queryExecution.optimizedPlan
    val joins = plan.collect { case j: Join => j }
    assert(joins.size == 1 && joins.head.joinType == LeftSemi,
      s"expected exactly one LeftSemi join:\n$plan")
    // the probe (fact) side of the semi join carries the bloom gate, so
    // the pruning happens BEFORE that side's shuffle
    assert(joins.head.left.collectFirst {
        case f: Filter if f.condition.toString.contains("bloom_contains") => f
      }.nonEmpty, s"bloom_contains gate not on the join's left side:\n$plan")
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("BroadcastNestedLoop") && !p.contains("CartesianProduct"),
      p.take(600))
  }

  test("q109: EXISTS/NOT EXISTS rewrite to semi and anti joins") {
    val p = planOf("q109_exists_subquery")
    assert(p.contains("LeftSemi"), p.take(600))
    assert(p.contains("LeftAnti"), p.take(600))
  }
}
