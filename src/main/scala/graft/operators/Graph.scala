package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Graph analytics over edge lists — the entity-graph passes of a
  * curation pipeline (influence scoring over a user–item purchase
  * graph, degree profiling of a supply graph). Complements
  * [[Dedup.connectedComponents]] (the other resident graph operator).
  *
  * Scale shape: the edge list is the only big relation; every
  * iteration is one keyed join (edges ⋈ per-node ranks on src) plus
  * one combinable aggregation (contributions by dst) — the standard
  * distributed PageRank step. The edge relation is repartitioned by
  * src and localCheckpointed ONCE (the checkpoint preserves the hash
  * partitioning, so the per-iteration join shuffles only the
  * node-sized rank side, never the edges again), everything else that
  * is reused — the node set with its out-degrees, each iteration's
  * ranks but the last — is node-sized and localCheckpointed so
  * lineage doesn't stack across iterations. The 100× rehearsal of the
  * first cut (which checkpointed an edges⋈outdeg relation and
  * re-shuffled the full edge mass twice per iteration) measured 529 s
  * / steady OOM at ~120M directed edges; this shape is the fix.
  */
object Graph {

  /** Damped PageRank over a directed edge list, `iters` synchronous
    * iterations from the uniform vector. Returns `(node, r)` for every
    * edge-incident node (isolated vertices aren't in an edge list by
    * construction). Nodes without in-edges settle at the teleport mass
    * `(1−damping)/N`.
    *
    * Convergence mode (`tol > 0`): after each iteration the L1
    * residual `Σ|r_t − r_{t−1}|` is measured as ONE node-keyed join +
    * 1-row aggregate (node-sized — the edge relation is never touched)
    * and iteration stops early once it drops below `tol`; `iters`
    * becomes the hard cap. Each iteration already pays a node-sized
    * localCheckpoint action, so the residual adds one cheap job, not a
    * lineage hazard — the checkpoint discipline (src-partitioned edges
    * checkpointed once, node-sized ranks re-checkpointed per round) is
    * exactly what keeps deep runs flat (rehearsed ≥10 iterations at the
    * 100× corpus, PLANS.md). `tol = 0` (default) preserves the
    * fixed-iteration contract bit-for-bit (q148's oracle replays
    * iterations literally). The standard L1 stopping rule of power-
    * iteration PageRank; with damping d the residual contracts ~d per
    * round, so tol=1e-6 lands within ~log(1e-6)/log(d) rounds.
    *
    * Dangling mass: nodes without OUT-edges leak their rank (the
    * standard simplification); feed a symmetrized edge list when the
    * graph is conceptually undirected and no node should dangle.
    *
    * Cross-engine parity note: the teleport term is computed literally
    * as `(1.0 − damping) / N` — an oracle must spell the same
    * subtraction (e.g. `(1.0 - 0.85)`, NOT the constant `0.15`, which
    * is a DIFFERENT double).
    *
    * Node ids keep the CALLER'S type (src and dst must agree). At
    * scale, pass the narrowest disjoint encoding you have — long ids
    * shuffle ~3× less than label strings; q148 packs its bipartite
    * 'c…'/'s…' labels into even/odd longs and decodes only the
    * node-sized result.
    */
  def pageRank(edges: DataFrame, srcCol: Column, dstCol: Column,
      iters: Int = 2, damping: Double = 0.85,
      tol: Double = 0.0, weightCol: Option[Column] = None): DataFrame = {
    require(iters >= 1, "iters must be >= 1")
    require(damping > 0 && damping < 1, "damping must be in (0,1)")
    require(tol >= 0, "tol must be >= 0 (0 disables convergence checks)")
    // `weightCol` (must be strictly positive — zero/negative weights
    // corrupt the out-strength; null weights null the contribution):
    // rank flows proportionally to edge weight, out-degree generalizes
    // to out-strength Σw. The unweighted path uses a literal 1.0
    // weight — value-identical to the count/sum form (x·1.0 ≡ x and
    // integer counts are exact doubles), confirmed by the q148 oracle.
    val typed = weightCol match {
      case Some(w) => edges.select(srcCol.as("__src"), dstCol.as("__dst"),
        w.cast("double").as("__w"))
      case None => edges.select(srcCol.as("__src"), dstCol.as("__dst"),
        lit(1.0).as("__w"))
    }
    require(typed.schema(0).dataType == typed.schema(1).dataType,
      s"src/dst types must agree, got ${typed.schema.map(_.dataType)}")
    val e = typed.repartition(col("__src")).localCheckpoint()
    // every node with its out-strength `__od`, in ONE aggregation over
    // both endpoint columns: a src row carries its edge weight and an
    // out-edge mark, a dst row neither, so a node without out-edges (no
    // edge reads its `__od`) gets null. The ranks carry `__od` from here
    // on, so an iteration joins the edges with the ranks directly.
    //
    // weighted path: validate the scaladoc contract LOUDLY inside the
    // out-strength value (a zero/negative strength would make
    // rate = r/0 = Inf and NaN-poison the rank vector SILENTLY —
    // double division doesn't ANSI-throw; null weights would silently
    // drop edges from the contribution join). The check rides the
    // aggregate the path already pays: count(__w) < count(__out)
    // detects nulls (min() skips them), min ≤ 0 detects the corrupting
    // weights, isnan catches NaN (which compares ABOVE all doubles in
    // Spark, so min ≤ 0 alone would miss it); it runs inside this
    // checkpoint, before any iteration. Unweighted keeps the bare plan.
    val ends = e.select(col("__src").as("node"), col("__w"),
        lit(1).as("__out"))
      .union(e.select(col("__dst").as("node"),
        lit(null).cast("double").as("__w"),
        lit(null).cast("int").as("__out")))
      .groupBy(col("node"))
    val (nodes, n) = PlanUtil.checkpointCounted(weightCol match {
      case None => ends.agg(sum(col("__w")).as("__od"))
      case Some(_) => ends
        .agg(sum(col("__w")).as("__odRaw"), min(col("__w")).as("__wmin"),
          count(col("__out")).as("__ne"), count(col("__w")).as("__nw"))
        .select(col("node"),
          when(col("__ne") > 0 && (col("__nw") < col("__ne") ||
              col("__wmin") <= 0.0 || isnan(col("__wmin")) ||
              isnan(col("__odRaw")) ||
              col("__odRaw") === lit(Double.PositiveInfinity)),
            raise_error(concat(
              lit("pageRank: edge weights must be non-null, finite and " +
                "> 0 (violating src node: "),
              col("node").cast("string"), lit(")"))))
            .otherwise(col("__odRaw")).as("__od"))
    })
    val teleport = (1.0 - damping) / n
    var ranks = nodes.withColumn("r", lit(1.0) / n)
    var it = 0
    var converged = false
    while (it < iters && !converged) {
      // the edge side is already src-partitioned, so only the node-sized
      // ranks shuffle; a contribution is (r/od)·w, in that association.
      // Each node adds one 0.0 contribution carrying its `__od`, so the
      // one aggregation by node also keeps the nodes without in-edges
      // (at the teleport mass) — no join back to the node set; x + 0.0
      // is x, so every sum is that of the edge contributions alone
      val contrib = e.join(ranks, col("__src") === col("node"))
        .select(col("__dst").as("node"),
          ((col("r") / col("__od")) * col("__w")).as("__c"),
          lit(null).cast("double").as("__od"))
      val step = contrib
        .union(nodes.select(col("node"), lit(0.0).as("__c"), col("__od")))
        .groupBy(col("node"))
        .agg(max(col("__od")).as("__od"), sum(col("__c")).as("__c"))
        .select(col("node"), col("__od"),
          (lit(teleport) + lit(damping) * col("__c")).as("r"))
      // the last fixed-count iteration is read once, by the caller's own
      // action: checkpointing it would be one more action writing what
      // that action then reads back
      val next =
        if (tol == 0 && it == iters - 1) step else step.localCheckpoint()
      if (tol > 0) {
        // node-keyed join of two checkpointed node-sized relations +
        // a 1-row aggregate — the edges never re-enter the plan here
        val residual = next
          .join(ranks.select(col("node"), col("r").as("__rp")), Seq("node"))
          .agg(sum(abs(col("r") - col("__rp"))).as("__l1"))
          .head().getDouble(0)
        converged = residual < tol
        log.info(f"pageRank iteration ${it + 1}: L1 residual " +
          f"$residual%.3e (tol $tol%.1e)" +
          (if (converged) " — converged" else ""))
      }
      ranks = next
      it += 1
    }
    if (tol > 0 && !converged) log.info(
      s"pageRank: iteration cap $iters reached without convergence")
    ranks.select(col("node"), col("r"))
  }

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Degree histogram: distinct-neighbor count per node, then how many
    * nodes sit at each degree — the supply/interaction-graph density
    * profile. Two combinable shuffles, output bounded by the max
    * degree.
    */
  def degreeHistogram(edges: DataFrame, nodeCol: Column,
      neighborCol: Column): DataFrame =
    edges.groupBy(nodeCol.as("node"))
      .agg(countDistinct(neighborCol).as("degree"))
      .groupBy(col("degree")).agg(count(lit(1)).as("n_nodes"))

  /** Per-node triangle count + degree over an UNDIRECTED edge list —
    * the local-density signal behind clustering coefficients and
    * community pruning. Input edges may carry duplicates, reversals and
    * self-loops; they are canonicalized (`u < v`, distinct, loops
    * dropped) first. Returns `(node, degree, triangles)` for every
    * edge-incident node (triangles = 0 included).
    *
    * Algorithm: degree-ordered orientation (Schank–Wagner; the
    * MapReduce form is Suri–Vassilvitskii, WWW'11). Every edge is
    * oriented from its lower-(degree, id) endpoint to the higher; each
    * triangle then has EXACTLY one node with two out-edges, so wedges
    * are enumerated as the self-join of the oriented adjacency on its
    * source and closed by one more join against the oriented edge set.
    * Wedge mass is Σ_v C(d⁺(v), 2) with d⁺ ≤ O(√m) on any graph —
    * the n²-free bound that makes this the standard distributed shape
    * (an unoriented wedge join pays Σ d(v)², ~4× more here and
    * unboundedly more under skew: a single hot hub is wedge-quadratic
    * unoriented, but its out-degree is capped by orientation).
    *
    * The oriented relation feeds THREE plan branches (both wedge sides
    * and the closing probe) — it is localCheckpointed so the upstream
    * canonicalization + degree join runs once (round-5 branch
    * re-execution lesson).
    *
    * Node ids keep the caller's type; `(degree, id)` ordering makes the
    * orientation deterministic for any id type with a total order.
    */
  def triangleCounts(edges: DataFrame, srcCol: Column,
      dstCol: Column, broadcastEdgeLimit: Long = 4000000L,
      assumeDistinct: Boolean = false): DataFrame = {
    // Edge-sized checkpoints go DISK_ONLY: the default MEMORY_AND_DISK
    // unroll copies each partition's UnsafeRows into a heap buffer
    // before caching, and at the 100× census (119.6M edges; e + the
    // oriented relation ≈ 14 GB of blocks) that tipped a 24 GB heap
    // into task OOM — DISK_ONLY streams partitions straight to local
    // scratch with no unroll cliff and no storage-pool pressure on the
    // joins that follow. Node-sized checkpoints (deg) keep the default.
    //
    // `assumeDistinct` skips the dedup SHUFFLE when the caller
    // GUARANTEES one row per unordered pair (e.g. a pre-aggregated
    // pair-count relation like CoPurchase — at the 100× census the
    // redundant distinct re-shuffles 119.6M rows for nothing).
    // Canonicalization (least/greatest + self-loop drop) still runs —
    // it is shuffle-free — so only DUPLICATE rows are the caller's
    // promise; a violated promise inflates counts (spec-pinned equal
    // to the safe path on canonical input).
    val e0 = edges.select(
        least(srcCol, dstCol).as("u"), greatest(srcCol, dstCol).as("v"))
      .filter(col("u") =!= col("v"))
    // feeds degrees AND the orientation join; m = its edge count
    val (e, m) = PlanUtil.checkpointCounted(
      if (assumeDistinct) e0 else e0.distinct(),
      Some(org.apache.spark.storage.StorageLevel.DISK_ONLY))
    val deg = e.select(col("u").as("node"))
      .union(e.select(col("v").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("degree"))
      .localCheckpoint() // feeds two endpoint joins + the final output
    // Orient each edge from lower (degree, id) to higher.
    val du = deg.select(col("node").as("u"), col("degree").as("du"))
    val dv = deg.select(col("node").as("v"), col("degree").as("dv"))
    val uFirst = col("du") < col("dv") ||
      (col("du") === col("dv") && col("u") < col("v"))
    val oriented = e.join(du, "u").join(dv, "v")
      .select(
        when(uFirst, col("u")).otherwise(col("v")).as("src"),
        when(uFirst, col("v")).otherwise(col("u")).as("dst"),
        when(uFirst, col("dv")).otherwise(col("du")).as("ddst"))
      .localCheckpoint(true,
        org.apache.spark.storage.StorageLevel.DISK_ONLY)
      // three consumers below; edge-sized -> DISK_ONLY (see e above)
    // Census parallelism (r15, measured): at the 100× census the wedge
    // join + closing probe saturate the execution pool — per-task peak
    // 735 MB × 32 concurrent vs a ~14 GB unified pool (sum of task
    // peaks 69 GB, 19.7 GB spilled; one pool-exhaustion OOM as a
    // catalog member in the r14 sweep). 4× the partitions (128 at the
    // default 32) quarters per-task sort state so tasks spill earlier
    // and the pool is never all-reserved. Explicit repartition, not a
    // conf flip: the conf is read at EXECUTION (outside this builder),
    // and user-specified repartition counts are exempt from AQE
    // coalescing. Bonus: w1/w2 inherit ONE src-hash exchange instead
    // of the two the sort-merge join would plan.
    val sp = edges.sparkSession.conf
      .get("spark.sql.shuffle.partitions", "32").toInt
    val bigCensus = m > 16000000L
    val cpar = math.max(sp * 4, 128)
    val orientedW =
      if (bigCensus) oriented.repartition(cpar, col("src")) else oriented
    // Wedges at each source: unordered out-neighbor pairs, ordered by
    // (degree, id) so the closing edge is oriented lo -> hi.
    val w1 = orientedW.select(col("src"), col("dst").as("x"),
      col("ddst").as("dx"))
    val w2 = orientedW.select(col("src"), col("dst").as("y"),
      col("ddst").as("dy"))
    val wedges = w1.join(w2, Seq("src"))
      .filter(col("dx") < col("dy") ||
        (col("dx") === col("dy") && col("x") < col("y")))
      .select(col("src").as("a"), col("x").as("b"), col("y").as("c"))
    // The closing probe decides the whole shuffle budget: wedge mass is
    // Σ C(d⁺,2) ≈ m^1.5-bounded (41M at the sf0.1 co-purchase census vs
    // 1.2M edges; 4.1B at its 100× rehearsal over 119.6M edges), so a
    // naive shuffled semi join moves ~34× the edge mass — at the 100×
    // point that is an ~80 GB shuffle that outgrows local scratch.
    // Below the cap the edge set (two ids per row) broadcasts and
    // wedges STREAM map-side from generation through the closing probe
    // into the per-node partial agg — no wedge-mass shuffle at all.
    // Past the cap, a BLOOM filter over the closing keys (the q118
    // machinery; ~0.3 GB at 120M edges / fpp 0.02) prunes the wedge
    // stream map-side to ~triangles + fpp·wedges BEFORE the shuffled
    // semi join — the standard distributed-triangle shape at edge
    // counts where the exact edge set no longer broadcasts. `m` came
    // with e's checkpoint, so choosing the shape runs no job.
    val closing0 = oriented.select(col("src").as("b"), col("dst").as("c"))
    val tris =
      if (m <= broadcastEdgeLimit)
        wedges.join(broadcast(closing0), Seq("b", "c"), "left_semi")
      else {
        log.info(s"triangleCounts: $m edges > broadcast cap " +
          s"$broadcastEdgeLimit — bloom-pruning the wedge stream")
        // stat.bloomFilter SILENTLY clamps the filter at
        // spark.sql.optimizer.runtime.bloomFilter.maxNumBits (default
        // 64M bits = 8 MiB): at 119.6M closing keys that is 0.56
        // bits/key, realized fpp ≈ 1, ZERO pruning — measured as a
        // 48 GB wedge shuffle that filled local scratch. Unclamp
        // around the build (save/restore); the filter is then sized by
        // (m, fpp) as requested — 116 MiB at the 100× census, riding
        // the wedge stage's task binary, vs the ~80 GB shuffle it
        // replaces.
        // BOTH clamps matter: maxNumBits caps the filter size, and
        // maxNumItems (default 4M) caps the ITEM count the hash-count
        // formula sees — at 119.6M real keys that yields ~170 hash
        // functions and a SATURATED filter (measured fpp 1.000, zero
        // pruning) even after the bits unclamp.
        val conf = edges.sparkSession.conf
        val bitsKey = "spark.sql.optimizer.runtime.bloomFilter.maxNumBits"
        val itemsKey = "spark.sql.optimizer.runtime.bloomFilter.maxNumItems"
        val prevBits = conf.get(bitsKey, "67108864")
        val prevItems = conf.get(itemsKey, "4000000")
        // BOUND the build's concurrency (r15 standalone OOM repro): the
        // partial aggregation holds ONE full-size filter buffer PER
        // TASK (~116 MiB at the 100× census) and the final row write
        // doubles it through BufferHolder.grow (~240 MB humongous
        // allocations) — 32 concurrent partials tipped a 24 GB heap.
        // coalesce (no shuffle) to 16 build tasks caps the transient
        // at ~16×360 MB; the build is a one-time corpus pass.
        val bloom =
          try {
            conf.set(bitsKey, "4294967296")
            conf.set(itemsKey, "4294967296")
            closing0.coalesce(16)
              .stat.bloomFilter(xxhash64(col("b"), col("c")), m, 0.02)
          } finally {
            conf.set(bitsKey, prevBits)
            conf.set(itemsKey, prevItems)
          }
        if (bloom.expectedFpp() > 0.2)
          log.warn(f"triangleCounts: realized bloom fpp " +
            f"${bloom.expectedFpp()}%.3f — pruning will be weak")
        // BROADCAST the serialized filter (r15 q172 root cause): as a
        // Literal it rides the task binary and EVERY task deserializes
        // its own 116 MiB copy — ObjectInputStream.readArray was the
        // exact OOM frame in the reproduced catalog-member failure.
        // One broadcast value per executor + a shared deserialized
        // filter (SketchGate.BloomBcCache) replace ~task-count copies.
        val bytes = graft.functions.SketchGate.serializeBloom(bloom)
        val bcBloom = edges.sparkSession.sparkContext.broadcast(bytes)
        val pruned = wedges
          .filter(graft.functions.SketchGate.bloom_contains_bc(bcBloom,
            xxhash64(col("b"), col("c"))))
        // the semi join shuffles both sides by (b, c) regardless —
        // explicit repartition just pins the census partition count
        // (same exchanges, 4× finer tasks; see orientedW above)
        if (bigCensus)
          pruned.repartition(cpar, col("b"), col("c"))
            .join(closing0.repartition(cpar, col("b"), col("c")),
              Seq("b", "c"), "left_semi")
        else pruned.join(closing0, Seq("b", "c"), "left_semi")
      }
    // ONE consumer of the wedge pipeline: a 3-way union of selects would
    // re-execute the wedge join + semi probe per branch (the round-5
    // mirrored-pairs lesson — measured 3× on the q172 census); explode
    // fans the triangle list to its corners inside the same pass
    val perNode = tris
      .select(explode(array(col("a"), col("b"), col("c"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("triangles"))
    deg.join(perNode, Seq("node"), "left_outer")
      .select(col("node"), col("degree"),
        coalesce(col("triangles"), lit(0L)).as("triangles"))
  }

  /** Newman modularity of a GIVEN node partition over an undirected
    * edge list — the attribute-community health check of an entity
    * graph ("do co-purchases concentrate within brands?"): per label,
    * intra-label edge count, degree sum, their shares, the label's
    * modularity contribution, and the overall Q as a constant column.
    * Q = Σ_c (e_c/m − (D_c/2m)²); Q ≈ 0 means the labeling explains
    * none of the edge structure (a negative control every attribute
    * hypothesis should be run through before clustering on it).
    *
    * Cross-engine exactness: the textbook form sums per-label DOUBLE
    * terms in engine-dependent order. Rewritten over a common
    * denominator, contribution = (4m·e_c − D_c²) / 4m² — the numerator
    * is an exact long, the Q numerator Σ_c(4m·e_c − D_c²) is an exact
    * long, and every output is ONE double division (the q167/q181
    * integer-grid discipline). |4m·e_c| ≤ 4m² caps the exact range at
    * m ≈ 1.5e9 edges — past that ANSI long arithmetic raises loudly
    * rather than drifting.
    *
    * Edges are canonicalized (u<v, distinct, loops dropped); nodes
    * missing from `labels` are dropped WITH their edges' degree
    * contributions kept (degree is a property of the graph, not the
    * labeling), and an intra edge requires BOTH endpoints labeled
    * equal. Output is |labels|-row sized.
    */
  def partitionModularity(edges: DataFrame, srcCol: Column, dstCol: Column,
      labels: DataFrame, nodeCol: Column, labelCol: Column): DataFrame = {
    // feeds degrees AND the intra-label join; m = its edge count
    val (e, m) = PlanUtil.checkpointCounted(edges.select(
        least(srcCol, dstCol).as("u"), greatest(srcCol, dstCol).as("v"))
      .filter(col("u").isNotNull && col("v").isNotNull &&
        col("u") =!= col("v"))
      .distinct())
    // exact duplicate (node, label) rows would double-count the node's
    // degree and its intra edges through the joins; a node listed under
    // MULTIPLE labels still contributes to each (overlapping-community
    // semantics) — feed a unique labeling for strict Newman Q
    val lab = labels.select(nodeCol.as("node"), labelCol.as("label"))
      .filter(col("node").isNotNull)
      .distinct()
    val lu = lab.select(col("node").as("u"), col("label").as("__la"))
    val lv = lab.select(col("node").as("v"), col("label").as("__lb"))
    val intra = e.join(lu, Seq("u")).join(lv, Seq("v"))
      .filter(col("__la") === col("__lb"))
      .groupBy(col("__la").as("label"))
      .agg(count(lit(1)).as("intra_edges"))
    val degl = e.select(col("u").as("node"))
      .union(e.select(col("v").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("__d"))
      .join(lab, Seq("node"))
      .groupBy(col("label")).agg(sum(col("__d")).as("degree_sum"))
    require(m > 0, "partitionModularity: empty edge set")
    val byLabel = degl.join(intra, Seq("label"), "left_outer")
      .select(col("label"), coalesce(col("intra_edges"), lit(0L))
        .as("intra_edges"), col("degree_sum"))
      .localCheckpoint() // |labels| rows; feeds per-label rows AND Q
    val num = lit(4L) * lit(m) * col("intra_edges") -
      col("degree_sum") * col("degree_sum")
    val qTot = byLabel.agg(sum(num).as("__qnum"))
    val denom = 4.0 * m.toDouble * m.toDouble
    byLabel.crossJoin(broadcast(qTot))
      .select(col("label"), col("intra_edges"), col("degree_sum"),
        round(col("intra_edges").cast("double") / m.toDouble, 6)
          .as("intra_share"),
        round(num.cast("double") / denom, 6).as("contribution"),
        round(col("__qnum").cast("double") / denom, 6).as("modularity"))
      .orderBy(col("label"))
  }

  /** Multi-source BFS hop distances over a DIRECTED edge list (feed a
    * symmetrized list for undirected semantics, the [[pageRank]]
    * convention): returns `(node, dist)` with the minimum hop count
    * from ANY seed, for every node reachable within `maxHops`. Nodes
    * beyond the cap (or disconnected) are simply absent — callers
    * wanting an explicit unreached marker left-join against their node
    * universe. The bounded-cap semantics are deliberate: two engines
    * running the same cap produce identical results even on graphs
    * whose true eccentricity exceeds it, which is what makes the
    * operator oracle-able at any scale.
    *
    * Scale shape (the PageRank iteration discipline): the edge list is
    * repartitioned by src and localCheckpointed ONCE — each round's
    * frontier join shuffles only the node-sized frontier; the visited
    * set and each frontier are node-sized and re-checkpointed per round
    * so lineage never stacks. Per round: one edge-mass join + one
    * distinct + one node-keyed anti-join. Rounds are bounded by
    * min(eccentricity, maxHops) — the loop stops as soon as a frontier
    * comes back empty. The frontier's size is an Observation on the
    * action that materializes the round's checkpoint, so the driver
    * check adds no job of its own.
    *
    * Duplicate edges are deduplicated up front so a multi-edge cannot
    * fan the frontier join out; seed ids keep the caller's type (must
    * match the edge endpoint type).
    */
  def hopDistances(edges: DataFrame, srcCol: Column, dstCol: Column,
      seeds: DataFrame, seedCol: Column, maxHops: Int = 12): DataFrame = {
    require(maxHops >= 0, "maxHops must be >= 0")
    val e = edges.select(srcCol.as("__u"), dstCol.as("__v"))
      .filter(col("__u").isNotNull && col("__v").isNotNull)
      .distinct()
      .repartition(col("__u"))
      .localCheckpoint()
    val (seeded, nSeeds) = PlanUtil.checkpointCounted(
      seeds.select(seedCol.as("node")).distinct().withColumn("dist", lit(0)))
    var visited = seeded
    var frontier = visited.select(col("node"))
    var hop = 0
    var exhausted = nSeeds == 0
    while (hop < maxHops && !exhausted) {
      val (next, nNext) = PlanUtil.checkpointCounted(
        e.join(frontier.select(col("node").as("__u")), Seq("__u"))
          .select(col("__v").as("node")).distinct()
          .join(visited.select(col("node")), Seq("node"), "left_anti")
          .withColumn("dist", lit(hop + 1)))
      if (nNext == 0) exhausted = true
      else {
        visited = visited.union(next).localCheckpoint()
        frontier = next.select(col("node"))
      }
      hop += 1
    }
    visited
  }
}
