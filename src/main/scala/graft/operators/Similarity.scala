package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (Array[Float]).
  *
  * - `cosine` is a pure Column expression (zip_with + aggregate in DOUBLE —
  *   matches DuckDB's list_cosine_similarity on DOUBLE[] for the oracle).
  * - `bruteForceTopK` broadcasts the (small) query set and scans the corpus
  *   once — the exact baseline. At 100 TB the corpus side stays partitioned
  *   and never shuffles; only |queries| × k rows come back.
  * - `lshBuckets`/`annTopK` is the scale path: deterministic random-
  *   hyperplane signs bucket the corpus; probing only the query's bucket
  *   turns each lookup into a bucket-local scan (recall traded via
  *   `planes`, multi-probe via hamming-adjacent buckets).
  */
object Similarity {

  import graft.functions.VectorExprs.{vec_dot, vec_l2norm}

  // driver-side routing decisions (geometry dispatch, cap trips) are
  // logged so a 1000-executor job's log explains WHY a plan was chosen
  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** cosine(a, b) in double precision, left-to-right — native codegen
    * expressions (VectorExprs), no per-pair allocation.
    */
  def cosine(a: Column, b: Column): Column =
    vec_dot(a, b) / (vec_l2norm(a) * vec_l2norm(b))

  def l2Norm(a: Column): Column = vec_l2norm(a)

  /** Exact top-k neighbors for each query vector.
    * queries/corpus: (idCol, vecCol). Self-matches (same id) are excluded.
    * Norms are computed ONCE PER ROW below the join (the join output only
    * does the dot product per pair).
    */
  def bruteForceTopK(
      queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int): DataFrame =
    rankExact(side(corpus, idCol, vecCol, query = false)
      .crossJoin(broadcast(side(queries, idCol, vecCol, query = true))), k)

  /** One side of a top-k route: `(query_id, __qv, __qn)` for the queries,
    * `(match_id, __cv, __cn)` for the corpus, with the L2 norm computed
    * once per row. Zero-norm vectors are dropped: they have no direction,
    * their cosine is 0/0 = NaN, and Spark ranks NaN ABOVE every number, so
    * one zero embedding would head every query's top-k (the same guard as
    * cosinePairs on both sides, and in every scoring path below).
    */
  private def side(df: DataFrame, idCol: String, vecCol: String,
      query: Boolean): DataFrame = {
    val (id, v, n) =
      if (query) ("query_id", "__qv", "__qn") else ("match_id", "__cv", "__cn")
    df.select(col(idCol).as(id), col(vecCol).as(v),
        vec_l2norm(col(vecCol)).as(n))
      .filter(col(n) > 0)
  }

  /** The exact refine-and-rank step every top-k route ends in: `cand`
    * pairs the two [[side]]s' columns; self matches are dropped, each
    * pair scores its exact cosine off the per-row norms, and the `k`
    * best per query survive, ties broken by match id. Returns
    * `(query_id, match_id, cos, rank)`.
    */
  private def rankExact(cand: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("match_id").asc)
    cand.filter(col("match_id") =!= col("query_id"))
      .select(col("query_id"), col("match_id"),
        (vec_dot(col("__qv"), col("__cv")) / (col("__qn") * col("__cn")))
          .as("cos"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Exact all-pairs cosine pairs at or above `threshold` — the semantic-
    * dedup pair generator. The boundary rule is round(cos, 4) >= threshold
    * (both engines compute the dot/norms left-to-right in double, so the
    * rounded value is engine-exact and the predicate is reproducible).
    *
    * Plan shape matches [[topPairs]]: norms once per row below the join,
    * the pair loop streams through CartesianProduct tiles and the
    * threshold filter drops pairs inside the loop — no pair row below the
    * threshold ever materializes. Exact-by-contract, so O(n²) compares:
    * at 100 TB gate through [[cosinePairsLshAuto]]'s banding first when
    * the threshold sits in the high-similarity regime, or bound the
    * corpus (per-partition / per-label blocks) when it does not.
    */
  def cosinePairs(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double): DataFrame = {
    // zero-norm vectors have no direction: their cosine is 0/0 = NaN,
    // and Spark orders NaN ABOVE every number, so an unguarded filter
    // would pass every pair containing one (the jaccardPairsLsh NaN
    // lesson). Drop them before pairing.
    val a = df.select(col(idCol).as("id_a"), col(vecCol).as("__va"),
      vec_l2norm(col(vecCol)).as("__na"))
      .filter(col("__na") > 0)
    val b = df.select(col(idCol).as("id_b"), col(vecCol).as("__vb"),
      vec_l2norm(col(vecCol)).as("__nb"))
      .filter(col("__nb") > 0)
    a.crossJoin(b).filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        round(vec_dot(col("__va"), col("__vb")) / (col("__na") * col("__nb")),
          4).as("cos"))
      .filter(col("cos") >= threshold)
  }

  /** Global top-n most-similar pairs (id_a < id_b), EXACT — the contract
    * when no similarity floor is known a priori. O(n²) dot products (any
    * exact dense-vector algorithm is), but each side's norm is precomputed
    * per row, the pair loop is native codegen, and the sort is a
    * TakeOrdered(n) — only n rows per partition survive; the planner
    * tiles the loop (CartesianProduct) when neither side is
    * broadcast-sized, so no full-corpus broadcast at scale.
    *
    * Why this is NOT LSH-gated by default: gating is only sound when the
    * n-th pair sits far above background similarity. Measured on the
    * testdata embeddings (sf0.01): the top-25 boundary is cos 0.437
    * against background σ = 1/√64 = 0.125 — at that separation every
    * hyperplane-band geometry that reaches ≥99.9% recall keeps ≥65% of
    * ALL pairs as candidates (16/4 → 23% kept but 68% recall; 24/8 →
    * 66% kept, 96% recall), i.e. the gate costs more than it prunes and
    * still misses top pairs. Use [[topPairsLshScaled]] when the pairs
    * of interest are in the genuinely-gateable high-similarity regime.
    */
  def topPairs(df: DataFrame, idCol: String, vecCol: String, n: Int,
      maxRows: Long = 1L << 20): DataFrame = {
    // Exact-by-contract must fail LOUDLY, not quadratically: 2^20 rows is
    // already ~5.5e11 dot products — far past where anyone plausibly
    // wants the exact form. The probe is bounded like the as-of
    // broadcast cap: limit(cap+1).count() never scans past cap+1 rows.
    if (maxRows > 0) {
      val capped = math.min(maxRows, Int.MaxValue - 2L)
      val seen = df.limit((capped + 1).toInt).count()
      if (seen > capped) throw new IllegalArgumentException(
        s"topPairs is exact all-pairs (O(n^2) dot products) and its input " +
          s"exceeds $capped rows. Use topPairsLshScaled for the " +
          s"high-similarity (near-dup) regime at this scale, bound the " +
          s"corpus (per-label / per-partition blocks), or raise maxRows " +
          s"(0 disables the guard) if the quadratic cost is intended.")
    }
    val a = df.select(col(idCol).as("id_a"), col(vecCol).as("__va"),
      vec_l2norm(col(vecCol)).as("__na"))
      .filter(col("__na") > 0) // zero-norm guard (see bruteForceTopK)
    val b = df.select(col(idCol).as("id_b"), col(vecCol).as("__vb"),
      vec_l2norm(col(vecCol)).as("__nb"))
      .filter(col("__nb") > 0)
    a.crossJoin(b).filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        (vec_dot(col("__va"), col("__vb")) / (col("__na") * col("__nb")))
          .as("cos"))
      .orderBy(col("cos").desc, col("id_a").asc, col("id_b").asc)
      .limit(n)
  }

  /** Corpus-scaled LSH geometry — the rule the 10×/30× rehearsals forced
    * (PLANS.md): a FIXED band width scales quadratically (bucket
    * occupancy ~n/2^r, candidate pairs ~n·occupancy per band), so band
    * bits must grow with the corpus and band count with the recall
    * target.
    *
    *  - `planesPerBand r = clamp(7, maxPlanesPerBand, ceil(log2(n /
    *    targetBucket)))` keeps expected bucket occupancy ~targetBucket,
    *    so candidate work stays ~`bands · targetBucket/2 · n` — linear
    *    in n. The default 20-bit cap bounds signature cost (r·b·dim
    *    multiply-adds per row); the kernel itself accepts up to 63 bits
    *    per band, so corpora beyond 2^20·targetBucket ≈ 16M vectors
    *    raise `maxPlanesPerBand` instead of letting occupancy grow.
    *  - `bands b = clamp(9, 24, ceil(ln(maxMiss) / ln(1 − p^r)))` holds
    *    the per-pair miss rate `(1 − p^r)^b ≤ maxMiss` at `targetCos`,
    *    where `p = 1 − acos(targetCos)/π` is the per-bit agreement
    *    probability.
    *
    * Defaults guarantee the NEAR-DUP regime (`targetCos` 0.99, miss ≤
    * 1%); pairs far below that are missed by design — the measured
    * ungateable regime ([[topPairs]]). The 24-band cap is a cost guard:
    * a (targetCos, maxMiss) pair demanding more bands gets 24 and the
    * realized rate `(1 − p^r)^24` instead — asking for tiny miss at
    * moderate cos is the ungateable regime wearing a different hat, and
    * unbounded band count is the quadratic trap's twin (candidate work
    * scales with `bands · targetBucket`).
    */
  def scaledLshGeometry(n: Long, targetCos: Double = 0.99,
      maxMiss: Double = 0.01, targetBucket: Int = 16,
      maxPlanesPerBand: Int = 20): (Int, Int) = {
    require(targetCos > 0 && targetCos < 1, "targetCos must be in (0,1)")
    require(maxMiss > 0 && maxMiss < 1, "maxMiss must be in (0,1)")
    require(targetBucket >= 1, "targetBucket must be >= 1")
    require(maxPlanesPerBand >= 7 && maxPlanesPerBand <= 63,
      "maxPlanesPerBand must be in [7, 63] (a band key is packed in a long)")
    val r = math.max(7, math.min(maxPlanesPerBand, math.ceil(
      math.log(math.max(1.0, n.toDouble / targetBucket)) / math.log(2.0))
      .toInt))
    val p = 1.0 - math.acos(targetCos) / math.Pi
    val b = math.max(9, math.min(24, math.ceil(
      math.log(maxMiss) / math.log1p(-math.pow(p, r))).toInt))
    (r, b)
  }

  /** LSH-gated global top-n pairs with EXACT rescoring — the 100 TB path
    * for the high-similarity (near-dup) regime. The hyperplane signature
    * is cut into `b` bands of `r` bits ([[scaledLshGeometry]] of a count
    * of the input); pairs sharing any band self-join per (band, value)
    * bucket — never all-pairs — and every candidate is rescored with the
    * exact codegen cosine before the global TakeOrdered(n). At the 7-bit
    * floor with the default 9 bands a pair at cos 0.9 (p = 1−θ/π = 0.856
    * per bit) bands together with P = 1−(1−0.856⁷)^9 ≈ 0.975, at cos 0.99
    * P ≈ 1−1e-5, while background (cos≈0) pairs pass at ~7%.
    * APPROXIMATE by design below cos ≈ 0.9 —
    * see [[topPairs]] for the exact contract and the measured reason a
    * global top-n over near-orthogonal data cannot be gated.
    *
    * The count is one narrow job over `df`; `localCheckpoint()` first if
    * the input plan is expensive (the pair machinery evaluates it again
    * for signatures).
    */
  def topPairsLshScaled(
      df: DataFrame, idCol: String, vecCol: String, n: Int, dim: Int,
      targetCos: Double = 0.99, maxMiss: Double = 0.01,
      targetBucket: Int = 16, maxPlanesPerBand: Int = 20): DataFrame = {
    val (r, b) =
      scaledLshGeometry(df.count(), targetCos, maxMiss, targetBucket,
        maxPlanesPerBand)
    rescoredBandPairs(df, idCol, vecCol, dim, r, b)
      .orderBy(col("cos").desc, col("id_a").asc, col("id_b").asc)
      .limit(n)
  }

  /** Geometry routing for [[cosinePairsLshAuto]]: keep the supplied hand
    * geometry while its expected bucket occupancy `n / 2^planesPerBand`
    * stays at or under `occupancyCap`; switch to [[scaledLshGeometry]]
    * past it. Returns `(planesPerBand, bands, switched)`.
    *
    * The default cap 16 is the MEASURED round-8 crossover on
    * decorrelated rehearsal data (q92, 12×12 hand geometry, dim 64):
    * at occupancy ~18 (72.6k vectors) the scaled form already wins
    * 13.3 → 11.1 s, at occupancy 54 (220k) it wins 141 → 48 s —
    * candidate work `bands · n · occupancy/2` dominates the ~1.5×
    * signature-plane overhead as soon as buckets exceed their design
    * occupancy. (Round 7's "hand wins through 1.8M vectors" was
    * measured on the correlated-replica-noise corpus the sf1 oracle
    * gate later invalidated, and was never re-measured after the
    * regeneration.) Below the cap the hand form wins on signature
    * cost: 1.9 s vs 5.3 s cold at 2.2k vectors, where the scaled
    * r clamps to the 7-bit floor and over-fills buckets.
    */
  def autoLshGeometry(n: Long, planesPerBand: Int, bands: Int,
      targetCos: Double, maxMiss: Double = 1e-8,
      occupancyCap: Long = 16, targetBucket: Int = 16,
      maxPlanesPerBand: Int = 20): (Int, Int, Boolean) = {
    require(planesPerBand > 0 && planesPerBand <= 63,
      "planesPerBand must fit a long")
    require(bands > 0, "bands must be positive")
    require(occupancyCap > 0, "occupancyCap must be positive")
    if (n.toDouble / math.pow(2.0, planesPerBand) <= occupancyCap.toDouble)
      (planesPerBand, bands, false)
    else {
      val (r, b) =
        scaledLshGeometry(n, targetCos, maxMiss, targetBucket,
          maxPlanesPerBand)
      (r, b, true)
    }
  }

  /** LSH-gated threshold pairs with EXACT rescoring — the 100 TB default
    * for semantic dedup. Banded candidate generation as in
    * [[topPairsLshScaled]] (payload-free band self-join, one exact
    * rescore per candidate), with [[cosinePairs]]'s output contract:
    * round(cos, 4) >= threshold, engine-exact boundary. APPROXIMATE
    * recall by construction: a qualifying pair sharing no band is
    * missed, at the per-pair rate (1 − p^r)^b with p = 1 − θ/π per plane
    * — with a 7-bit × 9-band geometry ~1e-7 at cos 0.997, ~1e-5 at cos
    * 0.99, 2.4% at cos 0.9, hopeless at cos ≲ 0.7.
    *
    * Geometry is dispatched on the corpus size. A hand geometry measured
    * at deployment scale beats the analytic one (q92: 12×12 won at every
    * rehearsed scale up to its knee), but a fixed width crosses its
    * quadratic knee silently once occupancy `n/2^r` outruns it, so the
    * routing is code, not advice: the hand geometry is used only while
    * `n / 2^planesPerBand ≤ occupancyCap` ([[autoLshGeometry]]), past it
    * [[scaledLshGeometry]] takes over, and the choice is logged either
    * way.
    *
    * `targetCos`/`maxMiss` describe the pairs that MUST be recalled if
    * the scaled branch is taken — the similarity of a planted or
    * measured dup population, NOT the rescore `threshold`, which can sit
    * well below it; pass the hand geometry's own design miss rate for
    * continuity across the switch. `n` is taken from `knownCount` when
    * the caller already has it; otherwise one narrow count job over `df`
    * (`localCheckpoint()` first if the input plan is expensive — the
    * pair machinery evaluates it again for signatures).
    */
  def cosinePairsLshAuto(
      df: DataFrame, idCol: String, vecCol: String, threshold: Double,
      dim: Int, planesPerBand: Int, bands: Int, targetCos: Double,
      maxMiss: Double = 1e-8, occupancyCap: Long = 16,
      targetBucket: Int = 16, maxPlanesPerBand: Int = 20,
      knownCount: Option[Long] = None): DataFrame = {
    val n = knownCount.getOrElse(df.count())
    val (r, b, switched) = autoLshGeometry(n, planesPerBand, bands,
      targetCos, maxMiss, occupancyCap, targetBucket, maxPlanesPerBand)
    if (switched) log.warn(
      s"cosinePairsLshAuto: n=$n exceeds hand geometry " +
        s"${planesPerBand}x$bands occupancy cap (n/2^$planesPerBand > " +
        s"$occupancyCap/bucket) — switching to scaled geometry ${r}x$b " +
        s"(targetCos=$targetCos, maxMiss=$maxMiss)")
    else log.info(
      s"cosinePairsLshAuto: n=$n within occupancy cap — keeping hand " +
        s"geometry ${planesPerBand}x$bands")
    rescoredBandPairs(df, idCol, vecCol, dim, r, b)
      .select(col("id_a"), col("id_b"), round(col("cos"), 4).as("cos"))
      .filter(col("cos") >= threshold)
  }

  /** Shared LSH-band pair machinery: banded candidate self-join carrying
    * ONLY (id, band, value) — vector payloads would otherwise be
    * materialized into every banded pair row (the cross-join-payload
    * trap) — then ONE exact cosine rescore per deduped candidate pair.
    * Returns (id_a, id_b, cos) with cos UNROUNDED.
    */
  private def rescoredBandPairs(
      df: DataFrame, idCol: String, vecCol: String, dim: Int,
      planesPerBand: Int, bands: Int): DataFrame = {
    // 4 consumers (band l/r + rescore a/b); broadcast sides re-plan
    // under BroadcastExchange so a shared repartition is never reused
    // (4 scans in the executed plan) — widen a single-file corpus so the
    // hyperplane projections run on every core, then materialize once
    // band keys via the single-pass LshBands kernel (one expression for
    // all r·b hyperplane projections — the per-plane Column form paid a
    // boxed literal access per coefficient and measured 10-12 s for the
    // 10×-rehearsal corpus; see VectorExprs.LshBands)
    val base = PlanUtil
      .widenIfNarrow(df.select(col(idCol).as("id"), col(vecCol).as("__v")))
      .select(col("id"), col("__v"), vec_l2norm(col("__v")).as("__nm"),
        graft.functions.VectorExprs
          .lsh_bands(col("__v"), planesPerBand, bands, dim).as("__bands"))
      .filter(col("__nm") > 0) // zero-norm guard (see bruteForceTopK)
      .localCheckpoint()
    val banded = base.select(col("id"),
      posexplode(col("__bands")).as(Seq("__band", "__bv")))
    val l = banded.select(col("id").as("id_a"), col("__band"), col("__bv"))
    val rt = banded.select(col("id").as("id_b"), col("__band"), col("__bv"))
    val cand = l.join(rt, Seq("__band", "__bv"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b")).distinct()
    val va = base.select(col("id").as("id_a"), col("__v").as("__va"),
      col("__nm").as("__na"))
    val vb = base.select(col("id").as("id_b"), col("__v").as("__vb"),
      col("__nm").as("__nb"))
    cand.join(va, "id_a").join(vb, "id_b")
      .select(col("id_a"), col("id_b"),
        (vec_dot(col("__va"), col("__vb")) / (col("__na") * col("__nb")))
          .as("cos"))
  }

  /** Deterministic random-hyperplane LSH signature: `planes` sign bits
    * packed into a long — one element_at over the single-pass
    * [[graft.functions.VectorExprs.LshBands]] kernel with bands = 1,
    * which packs the identical bit layout from the identical hyperplane
    * draw sequence (the per-plane Column formulation paid a boxed
    * literal access per coefficient — see the kernel's scaladoc).
    */
  def lshSignature(vec: Column, dim: Int, planes: Int = 16): Column = {
    require(planes <= 63, "planes must fit a long")
    element_at(
      graft.functions.VectorExprs.lsh_bands(vec, planes, 1, dim), 1)
  }

  /** Trained IVF coarse quantizer — the index LIFECYCLE object (FAISS IVF
    * shape, public technique): train once, reuse across every query that
    * probes the same corpus. Centroids are baked into the plan as literal
    * arrays; assignment is an argmin over codegen [[vec_dot]] — no UDF,
    * no driver broadcast variable, whole-stage-codegen friendly.
    */
  final case class IvfIndex(centroids: Array[Array[Double]]) {
    def nlist: Int = centroids.length

    /** ids of the `n` nearest centroids (squared L2) as array<int>.
      * d²(v,c) = |v|² − 2·v·c + |c|²; |v|² is row-constant, so the argmin
      * ranks by |c|² − 2·v·c. All centroid dots come from ONE
      * [[graft.functions.VectorExprs.AffineMap]] call over a primitive
      * flat matrix (0-seeded left-to-right, like [[vec_dot]]) and rank
      * with array HOFs; the struct sort (d, then i) keeps the stable
      * dist-then-centroid-id order. A per-centroid `vec_dot` Column form
      * would bake nlist expressions into one projection — plan size and
      * boxed per-coefficient access both grow with nlist (the LshBands
      * lesson); IvfSpec keeps that form as this one's bit-for-bit
      * oracle. Malformed (short/null-slot) vectors yield null rather
      * than a fabricated assignment (the AffineMap convention).
      */
    def assignK(vec: Column, n: Int): Column = {
      val cn2 = centroids.map(c => c.map(x => x * x).sum)
      val dots = graft.functions.VectorExprs.affine_map(
        vec, centroids.flatten, new Array[Double](centroids.length))
      val scored = transform(dots, (d, i) => struct(
        (element_at(lit(cn2), i + lit(1)) - lit(2.0) * d).as("d"),
        i.as("i")))
      transform(slice(array_sort(scored), 1, n), _.getField("i"))
    }
  }

  object IvfIndex {

    /** Deterministic k-means training over a bounded corpus sample.
      * The sample cap keeps training cost independent of corpus size — a
      * coarse quantizer never needs the full 100 TB corpus, only enough
      * vectors to place `nlist` centroids — and lets Lloyd's run ON THE
      * DRIVER over ≤ sampleLimit vectors (one collect job; spark.ml's
      * KMeans schedules a cluster job per iteration, which dominated the
      * query's wall time at test scale for a quantizer this small).
      * k-means++ seeding + Lloyd's, fixed seed — fully deterministic.
      */
    def train(corpus: DataFrame, vecCol: String, nlist: Int,
        seed: Long = 42L, maxIter: Int = 8, sampleLimit: Int = 4096): IvfIndex = {
      val sample: Array[Array[Double]] = corpus.select(col(vecCol))
        .limit(sampleLimit).collect()
        .map(_.getSeq[Number](0).map(_.doubleValue()).toArray)
      require(sample.length >= nlist,
        s"need at least nlist=$nlist sample vectors, got ${sample.length}")
      IvfIndex(lloydArrays(sample, nlist, seed, maxIter))
    }

    /** The driver-side k-means++ + Lloyd core behind [[train]], over an
      * in-memory sample — shared with the per-supercluster child books
      * of [[Similarity.IvfIndex2]] and the per-subspace PQ codebooks
      * ([[PqIndex.train]]).
      */
    private[operators] def lloydArrays(sample: Array[Array[Double]],
        nlist: Int, seed: Long, maxIter: Int): Array[Array[Double]] = {
      val dim = sample.head.length
      val rnd = new java.util.SplittableRandom(seed)

      def d2(a: Array[Double], b: Array[Double]): Double = {
        var s = 0.0; var i = 0
        while (i < dim) { val d = a(i) - b(i); s += d * d; i += 1 }
        s
      }

      // k-means++ seeding
      val centers = new Array[Array[Double]](nlist)
      centers(0) = sample(rnd.nextInt(sample.length)).clone()
      val minD2 = sample.map(d2(_, centers(0)))
      var c = 1
      while (c < nlist) {
        val total = minD2.sum
        var pick = rnd.nextDouble() * total
        var idx = 0
        while (idx < sample.length - 1 && pick > minD2(idx)) {
          pick -= minD2(idx); idx += 1
        }
        centers(c) = sample(idx).clone()
        var i = 0
        while (i < sample.length) {
          val d = d2(sample(i), centers(c))
          if (d < minD2(i)) minD2(i) = d
          i += 1
        }
        c += 1
      }

      // Lloyd's iterations; an emptied cluster keeps its previous center
      var iter = 0
      while (iter < maxIter) {
        val sums = Array.fill(nlist)(new Array[Double](dim))
        val counts = new Array[Int](nlist)
        var i = 0
        while (i < sample.length) {
          var best = 0; var bestD = Double.MaxValue; var ci = 0
          while (ci < nlist) {
            val d = d2(sample(i), centers(ci))
            if (d < bestD) { bestD = d; best = ci }
            ci += 1
          }
          val s = sums(best); val v = sample(i)
          var k = 0
          while (k < dim) { s(k) += v(k); k += 1 }
          counts(best) += 1
          i += 1
        }
        var ci = 0
        while (ci < nlist) {
          if (counts(ci) > 0) {
            val s = sums(ci)
            var k = 0
            while (k < dim) { s(k) /= counts(ci); k += 1 }
            centers(ci) = s
          }
          ci += 1
        }
        iter += 1
      }
      centers
    }

    // train-once cache: repeated queries against the same corpus reuse the
    // fitted quantizer instead of re-running k-means inside every query.
    private val cache = new java.util.concurrent.ConcurrentHashMap[
      (String, String, Int, Long), IvfIndex]()

    def trainCached(cacheKey: String, corpus: DataFrame, vecCol: String,
        nlist: Int, seed: Long = 42L): IvfIndex =
      // vecCol is part of the key — two vector columns of the same table
      // must not share a quantizer
      cache.computeIfAbsent((cacheKey, vecCol, nlist, seed),
        _ => train(corpus, vecCol, nlist, seed))

    /** Distributed coarse training past the driver-sample ceiling (r12
      * verdict top item): the 4096-vector driver sample keeps ≥8
      * training vectors per centroid only up to nlist=512, which
      * clamped [[Similarity.scaledIvfGeometry]] — past n≈262k the
      * probe fraction grew again. This path trains the coarse book
      * with the engine's own broadcast-model Lloyd
      * ([[Clustering.kmeansLloyd]] — zero-shuffle AffineMap
      * assignment, mergeable [[graft.plans.VecSumAgg]] partials, k·(d+1)
      * doubles over the exchange), so nlist scales with √n and every
      * centroid trains on the FULL corpus. md5-seeded → same corpus,
      * same fit, any partitioning; float partial merge order still
      * drifts ~1 ulp between fits, so share one index object per
      * process via [[trainDistributedCached]] (the q178 discipline) or
      * persist through [[IndexStore]]. Empty clusters shrink the book
      * (classical Lloyd; [[scaledIvfGeometry]]'s nprobe is computed
      * from the REQUESTED nlist — a handful of dropped cells only
      * nudges the probe fraction up).
      */
    def trainDistributed(corpus: DataFrame, idCol: String, vecCol: String,
        nlist: Int, iters: Int = 8): IvfIndex = {
      val (_, model) = Clustering.kmeansLloyd(corpus, col(idCol),
        col(vecCol), nlist, iters)
      IvfIndex(model.centroids)
    }

    // idCol is part of both keys: in the distributed branch it changes
    // which column feeds kmeansLloyd, so two calls sharing a cacheKey
    // but passing different idCol must not share a fit (ADVICE r13)
    private val distCache = new java.util.concurrent.ConcurrentHashMap[
      (String, String, String, Int), IvfIndex]()

    def trainDistributedCached(cacheKey: String, corpus: DataFrame,
        idCol: String, vecCol: String, nlist: Int): IvfIndex =
      distCache.computeIfAbsent((cacheKey, idCol, vecCol, nlist),
        _ => trainDistributed(corpus, idCol, vecCol, nlist))

    private val scaledCache = new java.util.concurrent.ConcurrentHashMap[
      (String, String, String, Long), (IvfIndex, Int)]()

    /** [[trainCached]] under the MEASURED corpus-size geometry
      * ([[Similarity.scaledIvfGeometry]]): counts the corpus once per
      * cacheKey, picks (nlist, nprobe), trains the quantizer at that
      * nlist. Returns the index and the nprobe the caller should probe
      * with — the pair is one decision, keeping the fraction pinned
      * as the corpus scales (the r11 verdict item: nlist=8 static at
      * 200k+ vectors left recall in the scaled regime unmeasured).
      */
    def trainCachedScaled(cacheKey: String, corpus: DataFrame,
        vecCol: String, seed: Long = 42L,
        idCol: String = "vec_id"): (IvfIndex, Int) =
      scaledCache.computeIfAbsent((cacheKey, idCol, vecCol, seed), _ => {
        val n = corpus.count()
        val (nlist, nprobe) = scaledIvfGeometry(n)
        log.info(s"ivf scaled geometry: n=$n -> nlist=$nlist nprobe=$nprobe")
        val idx =
          if (nlist <= DriverSampleNlistCap)
            trainCached(cacheKey, corpus, vecCol, nlist, seed)
          else {
            // past the driver-sample ceiling: distributed Lloyd keeps
            // ≥-full-corpus training per centroid (r12 top item)
            log.info(s"ivf coarse training goes DISTRIBUTED: nlist=$nlist" +
              s" > $DriverSampleNlistCap (driver-sample ceiling)")
            trainDistributedCached(cacheKey, corpus, idCol, vecCol, nlist)
          }
        (idx, nprobe)
      })
  }

  /** Largest nlist the 4096-vector driver-side training sample supports
    * at ≥8 vectors per centroid; past it, coarse training must go
    * distributed ([[IvfIndex.trainDistributed]]).
    */
  val DriverSampleNlistCap: Int = 512

  /** The [[scaledIvfGeometry]] clamp — an index carrying this many
    * coarse centroids only arises from a corpus past the measured
    * inline-serving ceiling (or an explicit caller override), so
    * [[ivfTopK]] gates its inline-assignment branch on it. */
  val IvfInlineNlistCap: Int = 4096

  /** The measured inline-serving corpus ceiling (r14, PLANS.md "IVF
    * nlist-4096 cap boundary"): 4096² — past it √n exceeds the nlist
    * clamp and the per-probe O(n·nlist·dim) inline assignment did not
    * finish inside the rehearsal budget; serving MUST go through a
    * persisted assignment ([[ivfAssign]] / IndexStore, the q195 path).
    */
  val IvfInlineCorpusCap: Long = 4096L * 4096L

  /** √n IVF geometry, MEASURED (round 12, the q46 fixed panel vs
    * brute-force truth; PLANS.md "IVF geometry calibration"): `nlist = clamp(8, 512, round(√n))`,
    * `nprobe = clamp(2, nlist, round(nlist/8))` — a pinned ~1/8 probe
    * fraction with per-query probe cost ~n/8·dim regardless of scale,
    * while the static 8×2 form probed n/4 AND lost recall as its 8
    * cells grew unboundedly:
    *
    * | n       | scaled geometry | recall@5 | static 8×2 |
    * |---------|-----------------|----------|------------|
    * | 500     | 22×3            | 0.50/0.52| 0.56/0.38  |
    * | 2,000   | 45×6            | 0.555    | 0.53       |
    * | 20,000  | 141×18          | 0.975    | 0.88       |
    * | 60,000  | 245×31          | 1.000    | 0.85       |
    * | 200,000 | 447×56          | 0.995    | 0.82       |
    *
    * (500-vector cells are ~23 vectors — at that size IVF recall is
    * noise-dominated on RAW corpora either way; the scaled regime is
    * where the rule earns its keep, and there it is uniformly better
    * on both axes.)
    *
    * Round 13 extended the rule past the old 512 ceiling (512 was the
    * largest nlist the 4096-vector DRIVER training sample supports at
    * ≥8 vectors per centroid): [[IvfIndex.trainCachedScaled]] now
    * routes nlist > [[DriverSampleNlistCap]] to the DISTRIBUTED
    * trainer ([[IvfIndex.trainDistributed]] — broadcast-model Lloyd,
    * full-corpus training per centroid), measured at 500k (707×88)
    * and 1M vectors (1000×125) on the q46 panel — recall rows
    * in PLANS.md ("IVF distributed coarse training"). The cap is now
    * 4096, and round 14 MEASURED the boundary on non-saturating
    * mixed-class fixtures (`ScaleUpEmbeddingsHard`; PLANS.md "IVF
    * nlist-4096 cap boundary"): the ceiling is COMPUTE, not recall —
    * at the nlist/8 production probe fraction recall holds (1.000 at
    * 4.2M) while train is O(iters·n·nlist·d) and the INLINE probe is
    * assignment-dominated at O(n·nlist·d) PER BATCH (708 s for one
    * 40-query batch at 4.2M×1024; 16.8M×2048 did not finish a
    * train+probe inside 100 min on 32 cores). Past the cap the
    * answer is the q195 persisted-assignment store (pay the corpus
    * assignment once per index build, not per probe) — not a bigger
    * flat nlist; a two-level coarse quantizer is the design note if
    * nlist itself must keep growing.
    */
  def scaledIvfGeometry(n: Long): (Int, Int) = {
    val root = math.round(math.sqrt(math.max(1L, n).toDouble)).toInt
    val nlist = math.max(8, math.min(4096, root))
    if (root > 4096)
      log.warn(s"scaledIvfGeometry: √n=$root clamped to nlist=4096 — " +
        "the measured compute ceiling (PLANS.md); serve via the " +
        "persisted-assignment store (IndexStore/q195) at this scale")
    val nprobe = math.max(2, math.min(nlist, math.round(nlist / 8.0).toInt))
    (nlist, nprobe)
  }

  /** IVF (inverted-file) ANN: k-means coarse quantizer over the corpus;
    * each query probes its `nprobe` nearest centroids' inverted lists.
    * Recall/cost traded via nlist × nprobe; the probe join touches only
    * ~nprobe/nlist of the corpus per query. Pass a pre-trained
    * [[IvfIndex]] to reuse the quantizer (the default trains one on the
    * spot — fine for one-shot calls, wasteful in a query catalog).
    */
  def ivfTopK(
      queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int,
      nlist: Int = 16, nprobe: Int = 4,
      index: Option[IvfIndex] = None,
      assigned: Option[DataFrame] = None): DataFrame = {
    // A persisted assignment is only meaningful with the index that
    // produced it: a freshly-trained quantizer's list ids would not
    // correspond to the stored lists, and probes vs corpus buckets
    // would silently disagree (near-empty results, no error).
    require(index.isDefined || assigned.isEmpty,
      "ivfTopK: `assigned` lists are only valid together with the index " +
        "that produced them — pass both (e.g. from IndexStore.loadIvf)")
    val idx = index.getOrElse(IvfIndex.train(corpus, vecCol, nlist))
    // `assigned` = a PERSISTED (idCol, list) assignment ([[ivfAssign]]
    // shape, e.g. loaded via IndexStore.loadIvf): the corpus scan then
    // skips the O(nlist·dim) per-row assignment — at 200k×64 dims and
    // nlist 447 that is the dominant cost of a probe job — and joins
    // the stored lists by id instead. The list values are a pure
    // function of (vector, centroids), both bit-stable through the
    // store, so served == inline exactly (q195 asserts it end-to-end).
    val lists = assigned.toLeft {
      // CONTRACT (r14 measured boundary, PLANS.md "IVF nlist-4096
      // cap"): the inline branch pays O(n·nlist·dim) corpus
      // assignment PER PROBE JOB; at the geometry clamp
      // (nlist = 4096 ⇔ √n > 4096 ⇔ n > ~16.8M) that pass did not
      // finish train+probe in 100 min on 32 cores. Past the cap the
      // ONLY sanctioned serving path is a persisted assignment
      // (ivfAssign → IndexStore.saveIvf → `assigned`, the q195
      // shape — the corpus pass is paid once per index build, not
      // per probe). The count job below runs only when nlist is at
      // the clamp — never for in-catalog geometries.
      if (idx.centroids.length >= IvfInlineNlistCap) {
        val n = corpus.count()
        require(n <= IvfInlineCorpusCap,
          s"ivfTopK: inline per-probe corpus assignment at " +
            s"nlist=${idx.centroids.length} over n=$n rows is past " +
            s"the measured compute ceiling ($IvfInlineCorpusCap) — " +
            "persist the assignment (Similarity.ivfAssign / " +
            "IndexStore.saveIvf) and serve through `assigned` " +
            "(the q195 store path)")
      }
      (v: Column) => idx.assignK(v, 1)(0)
    }
    ivfProbeTopK(queries, corpus, idCol, vecCol, k, lists,
      idx.assignK(_, nprobe))
  }

  /** The probe core of [[ivfTopK]] and [[ivf2TopK]]: each corpus row
    * takes its list from a persisted `(idCol, list)` assignment joined
    * by id (`Left`) or assigns it inline (`Right`); each query explodes
    * its `probe` lists and meets only the corpus rows filed under them.
    */
  private def ivfProbeTopK(queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int,
      lists: Either[DataFrame, Column => Column],
      probe: Column => Column): DataFrame = {
    val c = side(corpus, idCol, vecCol, query = false)
    val bucketed = lists match {
      case Left(a) => c.join(a.select(col(idCol).as("match_id"),
        col("list").as("__list")), "match_id")
      case Right(assign) => c.withColumn("__list", assign(col("__cv")))
    }
    val probes = side(queries, idCol, vecCol, query = true)
      .withColumn("__list", explode(probe(col("__qv"))))
    rankExact(bucketed.join(broadcast(probes), Seq("__list")), k)
  }

  /** The guarded IVF corpus-assignment relation `(idCol, list)` — what
    * [[ivfTopK]]'s `assigned` parameter consumes and what
    * [[IndexStore.saveIvf]] persists (the assignment is the probe
    * job's dominant per-corpus-row cost at scaled nlist; a 100 TB
    * index computes it once, not per job).
    */
  def ivfAssign(corpus: DataFrame, idCol: String, vecCol: String,
      index: IvfIndex): DataFrame =
    corpus
      .filter(vec_l2norm(col(vecCol)) > 0)
      .select(col(idCol), index.assignK(col(vecCol), 1)(0).as("list"))

  // ------------------------------------------------------- two-level IVF

  /** TWO-LEVEL IVF coarse quantizer — the BUILD path past the flat
    * [[IvfInlineCorpusCap]] (r15 verdict #4): √n at 20M rows is
    * nlist ≈ 4500, and the flat corpus assignment is O(n·nlist·dim) —
    * extrapolating the r14 measured AffineMap rate, hours on 32 cores
    * for a single build pass. The classical fix (FAISS residual/HNSW
    * coarse families) is hierarchy: `nsup` superclusters, each with
    * `childrenPerSup` children; an assignment ranks nsup sups then one
    * sup's children — O((nsup + childrenPerSup)·dim) per row, a
    * √nlist-factor saving (4096 → 128 dots at 64×64) that makes the
    * q195-style persisted-assignment store BUILDABLE at the scales its
    * contract routes here. `children` is flat-indexed
    * (`s·childrenPerSup + c` — the global list id).
    *
    * The partition differs from flat k-means-4096 (a vector whose
    * nearest flat centroid sits across a supercluster boundary lands
    * elsewhere), so recall at a matched probed-corpus fraction is the
    * thing to MEASURE, not assume — PLANS.md "Round-16: two-level IVF
    * build past the inline cap".
    */
  final case class IvfIndex2(sup: Array[Array[Double]],
      children: Array[Array[Double]]) {
    require(children.length % sup.length == 0,
      s"children ${children.length} not divisible by nsup ${sup.length}")
    def nsup: Int = sup.length
    def childrenPerSup: Int = children.length / sup.length
    def nlist: Int = children.length
    @transient private lazy val supFlat: Array[Double] = sup.flatten
    @transient private lazy val childFlat: Array[Double] = children.flatten

    /** Probe lists (kSup × kChild global list ids, best-first);
      * `(1, 1)` is the assignment. One kernel call
      * ([[graft.functions.VectorExprs.Ivf2Lists]]).
      */
    def lists(vec: Column, kSup: Int, kChild: Int): Column =
      graft.functions.VectorExprs.ivf2_lists(vec, supFlat, childFlat,
        nsup, kSup, kChild)
  }

  object IvfIndex2 {
    /** Train the hierarchy: level 1 on the [[IvfIndex.train]] driver
      * sample; level 2 per supercluster over a STRATIFIED corpus
      * sample (deterministic hash filter → sup-assigned → capped at
      * `samplePerSup` per cell → one driver collect of ≤
      * nsup·samplePerSup vectors, Lloyd per cell on the driver).
      * A cell with fewer than `childrenPerSup` sample vectors keeps
      * its samples as children padded with the sup centroid —
      * harmless dead lists, uniform childrenPerSup.
      */
    def train(corpus: DataFrame, idCol: String, vecCol: String,
        nsup: Int = 64, childrenPerSup: Int = 64,
        samplePerSup: Int = 2048, seed: Long = 42L): IvfIndex2 = {
      val supIdx = IvfIndex.train(corpus, vecCol, nsup, seed)
      val dim = supIdx.centroids.head.length
      val n = corpus.count()
      val p = math.max(1L, n / math.max(1L, 2L * nsup * samplePerSup))
      val samp = corpus
        .filter(vec_l2norm(col(vecCol)) > 0)
        .filter(pmod(xxhash64(col(idCol)), lit(p)) === 0)
        .select(col(idCol).as("__id"), col(vecCol).as("__v"),
          supIdx.assignK(col(vecCol), 1)(0).as("__s"))
        .filter(col("__s").isNotNull) // malformed vectors: no cell
        .withColumn("__rn", row_number().over(
          Window.partitionBy(col("__s")).orderBy(col("__id"))))
        .filter(col("__rn") <= samplePerSup)
        .select(col("__s"), col("__v"))
        .collect()
      val bySup = samp.groupBy(_.getInt(0)).map { case (s, rows) =>
        s -> rows.map(_.getSeq[Number](1).map(_.doubleValue()).toArray)
      }
      val children = new Array[Array[Double]](nsup * childrenPerSup)
      var s = 0
      while (s < nsup) {
        val cell = bySup.getOrElse(s, Array.empty[Array[Double]])
        val centers =
          if (cell.length >= childrenPerSup)
            IvfIndex.lloydArrays(cell, childrenPerSup, seed + s, 8)
          else Array.tabulate(childrenPerSup) { c =>
            if (c < cell.length) cell(c).clone()
            else supIdx.centroids(s).clone()
          }
        var c = 0
        while (c < childrenPerSup) {
          children(s * childrenPerSup + c) = centers(c); c += 1
        }
        s += 1
      }
      require(children.forall(c => c != null && c.length == dim),
        "ivf2 training produced a malformed child book")
      IvfIndex2(supIdx.centroids, children)
    }
  }

  /** [[ivfAssign]] for a two-level index — the tractable build pass.
    */
  def ivf2Assign(corpus: DataFrame, idCol: String, vecCol: String,
      index: IvfIndex2): DataFrame =
    corpus
      .filter(vec_l2norm(col(vecCol)) > 0)
      .select(col(idCol),
        element_at(index.lists(col(vecCol), 1, 1), 1).as("list"))
      .filter(col("list").isNotNull)

  /** [[ivfTopK]]'s persisted-assignment serving shape for a two-level
    * index: queries multiprobe `kSup × kChild` lists; the corpus scan
    * joins its STORED list ids — no inline corpus assignment ever.
    * Probed corpus fraction ≈ (kSup/nsup)·(kChild/childrenPerSup) at
    * uniform occupancy; match it to the flat geometry's nprobe/nlist
    * when comparing recall.
    */
  def ivf2TopK(
      queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int,
      index: IvfIndex2, assigned: DataFrame,
      kSup: Int, kChild: Int): DataFrame =
    ivfProbeTopK(queries, corpus, idCol, vecCol, k, Left(assigned),
      index.lists(_, kSup, kChild))

  /** Bucketed ANN top-k: corpus bucketed by LSH signature; each query
    * probes only its own bucket. Returns (query_id, match_id, cos, rank)
    * like bruteForceTopK but approximate (bucket-miss ⇒ missing neighbor).
    */
  def annTopK(
      queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int, dim: Int,
      planes: Int = 12): DataFrame = {
    val c = side(corpus, idCol, vecCol, query = false)
      .withColumn("__bucket", lshSignature(col("__cv"), dim, planes))
    val q = side(queries, idCol, vecCol, query = true)
      .withColumn("__bucket", lshSignature(col("__qv"), dim, planes))
    rankExact(c.join(broadcast(q), Seq("__bucket")), k)
  }

  /** Product-quantization codebooks (Jégou et al., TPAMI'11): the
    * vector space is split into `m` contiguous `dsub`-dim subspaces,
    * each with its own `ksub`-centroid k-means codebook; a vector
    * compresses to `m` small codes (m·log2(ksub) bits — 32× smaller
    * than float32 at 8×16 over 64 dims). The memory-compression scale
    * path for ANN: at 100 TB the CODES column fits where the float
    * corpus cannot, and scoring reads centroids from a broadcast
    * literal ([[graft.functions.VectorExprs.PqAdc]]).
    */
  final case class PqIndex(codebooks: Array[Array[Array[Double]]]) {
    val m: Int = codebooks.length
    val ksub: Int = codebooks.head.length
    val dsub: Int = codebooks.head.head.length
    def dim: Int = m * dsub

    /** Row-major `[m][ksub][dsub]` flattening — the pq_adc literal. */
    lazy val flat: Array[Double] = codebooks.flatten.flatten
    /** Element-squared flattening: `pq_adc(ones, codes, flatSq)` is
      * Σ_s ‖c_{s,code_s}‖² — the reconstruction's squared norm straight
      * off the codes (norms decompose across orthogonal subspaces).
      */
    lazy val flatSq: Array[Double] = flat.map(x => x * x)

    /** Encode a vector to its `m` nearest-subcentroid codes (array<int>).
      * Per subspace: ONE [[graft.functions.VectorExprs.AffineMap]] call
      * scores all ksub centroids (the q134 assignment shape — argmin
      * L2 == argmax of c·x − ½‖c‖², bias carries the −½‖c‖² term) and
      * `array_position(array_max)` takes the FIRST best (deterministic
      * ties). Malformed vectors (short / null slot) encode to a null
      * code and are dropped by [[pqTopK]]'s dimension filter.
      */
    def encode(vec: Column): Column = {
      import graft.functions.VectorExprs
      val codes = (0 until m).map { s =>
        val cb = codebooks(s)
        val matFlat: Array[Double] = cb.flatten
        val bias: Array[Double] = cb.map(c => -0.5 * c.map(x => x * x).sum)
        val scores = VectorExprs.affine_map(
          slice(vec, s * dsub + 1, dsub), matFlat, bias)
        (array_position(scores, array_max(scores)) - 1).cast("int")
      }
      array(codes: _*)
    }

    /** Reconstruct the quantized vector (array<double>) from its codes —
      * the decode side of the pair; [[pqTopK]] never materializes it
      * (the ADC kernel reads centroid rows in place), this is for
      * diagnostics and the parity specs.
      */
    def decode(codes: Column): Column = {
      val parts = (0 until m).map { s =>
        element_at(typedlit(codebooks(s).map(_.toSeq).toSeq),
          element_at(codes, s + 1) + 1)
      }
      concat(parts: _*)
    }
  }

  object PqIndex {

    /** Per-subspace deterministic k-means over a bounded corpus sample —
      * the [[IvfIndex.train]] discipline (codebooks never need the full
      * corpus; driver Lloyd's over ≤ sampleLimit vectors beats a
      * cluster job per iteration by orders of magnitude at this size),
      * run once per subspace with seed `seed + s`.
      */
    def train(corpus: DataFrame, vecCol: String, m: Int = 8,
        ksub: Int = 16, seed: Long = 42L, maxIter: Int = 8,
        sampleLimit: Int = 4096): PqIndex = {
      val sample: Array[Array[Double]] = corpus.select(col(vecCol))
        .limit(sampleLimit).collect()
        .map(_.getSeq[Number](0).map(_.doubleValue()).toArray)
      require(sample.length >= ksub,
        s"need at least ksub=$ksub sample vectors, got ${sample.length}")
      val dim = sample.head.length
      require(dim % m == 0, s"dim $dim not divisible by m=$m subspaces")
      val dsub = dim / m
      val books = Array.tabulate(m) { s =>
        val sub = sample.map(v =>
          java.util.Arrays.copyOfRange(v, s * dsub, (s + 1) * dsub))
        IvfIndex.lloydArrays(sub, ksub, seed + s, maxIter)
      }
      PqIndex(books)
    }

    // train-once cache, IvfIndex.trainCached's contract
    private val cache = new java.util.concurrent.ConcurrentHashMap[
      (String, String, Int, Int, Long), PqIndex]()

    def trainCached(cacheKey: String, corpus: DataFrame, vecCol: String,
        m: Int = 8, ksub: Int = 16, seed: Long = 42L): PqIndex =
      cache.computeIfAbsent((cacheKey, vecCol, m, ksub, seed),
        _ => train(corpus, vecCol, m, ksub, seed))
  }

  /** Two-stage PQ top-k: the candidate scan scores every corpus CODE
    * array against each query with the [[graft.functions.VectorExprs
    * .PqAdc]] ADC kernel (approximate cosine = adc / (‖q‖·‖recon‖),
    * the reconstruction norm read off the codes via the squared
    * codebook — ONE double per corpus row, computed once), keeps
    * `rescoreFactor·k` per query, then fetches ONLY the survivors'
    * float vectors for the exact re-rank — a 32× compressed candidate
    * scan (int8 quantization gives 4×). Returns
    * `(query_id, match_id, cos, rank)` with EXACT cosines.
    */
  def pqTopK(
      queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int,
      index: PqIndex, rescoreFactor: Int = 4,
      codes: Option[DataFrame] = None): DataFrame = {
    import graft.functions.VectorExprs.pq_adc
    val ones = typedlit(Seq.fill(index.dim)(1.0))
    val q = broadcast(side(queries, idCol, vecCol, query = true)
      .filter(size(col("__qv")) === index.dim))
    // `codes` = a PERSISTED encoded corpus ([[pqEncode]] shape, e.g.
    // loaded via IndexStore) — the scan then never touches the encode
    // tree at all; reconstruction norms are re-derived from the codes
    // with the same kernel arithmetic, so loaded == trained bit-for-bit
    val codesRel = codes.getOrElse(pqEncode(corpus, idCol, vecCol, index))
      .select(col(idCol).as("match_id"), col("codes").as("__codes"))
      .select(col("match_id"), col("__codes"),
        sqrt(pq_adc(ones, col("__codes"), index.flatSq, index.dsub))
          .as("__rn"))
    // zero-norm reconstruction guard lives INSIDE the score (null acos
    // ranks last), NOT as a filter: a filter on a derived column gets
    // alias-substituted down to the scan by predicate pushdown,
    // inlining the entire encode tree into the Filter condition —
    // measured 1.8 MB plan lines and a 7× slowdown on the IVF-PQ twin
    val cand = codesRel.crossJoin(q)
      .filter(col("match_id") =!= col("query_id"))
      .select(col("query_id"), col("match_id"),
        when(col("__rn") > 0,
          pq_adc(col("__qv"), col("__codes"), index.flat, index.dsub) /
            (col("__qn") * col("__rn"))).as("__acos"))
    rescoreExact(cand, q, corpus, idCol, vecCol, k, rescoreFactor)
  }

  /** The guarded PQ-encoded corpus relation `(idCol, codes)` — exactly
    * what [[pqTopK]] scans (its default path calls this) and what
    * [[IndexStore.savePq]] persists. Zero-norm / wrong-dim vectors are
    * dropped here, so a persisted code column carries only encodable
    * rows.
    */
  def pqEncode(corpus: DataFrame, idCol: String, vecCol: String,
      index: PqIndex): DataFrame =
    corpus
      .filter(size(col(vecCol)) === index.dim &&
        vec_l2norm(col(vecCol)) > 0) // zero-norm guard (see bruteForceTopK)
      .select(col(idCol), index.encode(col(vecCol)).as("codes"))

  /** Shared tail of the compressed-scan ANN paths ([[pqTopK]],
    * [[ivfPqTopK]]): keep the `rescoreFactor·k` best approximate
    * candidates per query, fetch ONLY those survivors' float vectors,
    * re-rank on EXACT cosine. `cand` must carry
    * (query_id, match_id, __acos); `q` must be the already-filtered
    * query [[side]].
    */
  private def rescoreExact(cand: DataFrame, q: DataFrame,
      corpus: DataFrame, idCol: String, vecCol: String,
      k: Int, rescoreFactor: Int): DataFrame = {
    val wq = Window.partitionBy(col("query_id"))
      .orderBy(col("__acos").desc, col("match_id").asc)
    val survivors = cand.withColumn("__qr", row_number().over(wq))
      .filter(col("__qr") <= k.toLong * rescoreFactor)
      .select("query_id", "match_id")
    rankExact(survivors.join(side(corpus, idCol, vecCol, query = false),
      "match_id").join(q, "query_id"), k)
  }

  /** Train a [[PqIndex]] on coarse-quantization RESIDUALS — the IVF-PQ
    * codebook (residuals pooled across lists, the standard single-
    * codebook variant): each sample vector is assigned to its nearest
    * coarse centroid and the PQ k-means sees `v − c(v)`. Residuals
    * concentrate near the origin, so the same ksub buys far less
    * quantization error than coding raw vectors.
    */
  def trainPqResidualsCached(cacheKey: String, corpus: DataFrame,
      vecCol: String, coarse: IvfIndex, m: Int = 8, ksub: Int = 16,
      seed: Long = 42L): PqIndex = {
    val cents = typedlit(coarse.centroids.map(_.toSeq).toSeq)
    val resid = corpus
      .filter(vec_l2norm(col(vecCol)) > 0)
      .select(zip_with(col(vecCol),
        element_at(cents, coarse.assignK(col(vecCol), 1)(0) + 1),
        (a, b) => a - b).as("__res"))
    PqIndex.trainCached(cacheKey, resid, "__res", m, ksub, seed)
  }

  /** IVF-PQ composite ANN (Jégou et al., TPAMI'11 §IV — the
    * architecture behind every 100 TB-scale vector index): the coarse
    * quantizer routes each corpus vector to ONE inverted list and PQ
    * codes its RESIDUAL `v − c`; a query probes its `nprobe` nearest
    * lists and scores candidates entirely off the m-byte codes —
    * approximate `q·v̂ = q·c + q·r̂`, with `q·c` one [[vec_dot]] per
    * (query, probed list) and `q·r̂` one [[graft.functions.VectorExprs
    * .PqAdc]] kernel read per candidate. The reconstruction norm
    * `‖c+r̂‖² = ‖c‖² + 2·c·r̂ + ‖r̂‖²` is computed ONCE per corpus row
    * at encode time (cross term = pq_adc with the centroid as the
    * "query"; squared term off the squared codebook) — the probe scan
    * never touches a float vector. Survivors are exactly rescored
    * ([[rescoreExact]]). Work per query ≈ nprobe/nlist of the corpus
    * at 32× compression, vs [[pqTopK]]'s full compressed scan and
    * [[ivfTopK]]'s float-vector probe scan. Returns
    * `(query_id, match_id, cos, rank)` with EXACT cosines.
    */
  def ivfPqTopK(
      queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int,
      coarse: IvfIndex, pq: PqIndex,
      nprobe: Int = 4, rescoreFactor: Int = 4,
      enc: Option[DataFrame] = None): DataFrame = {
    import graft.functions.VectorExprs.pq_adc
    require(coarse.centroids.head.length == pq.dim,
      s"coarse dim ${coarse.centroids.head.length} != PQ dim ${pq.dim}")
    val cents = typedlit(coarse.centroids.map(_.toSeq).toSeq)
    val ones = typedlit(Seq.fill(pq.dim)(1.0))
    // `enc` = a PERSISTED encoded corpus ([[ivfPqEncode]] shape, e.g.
    // loaded via IndexStore); reconstruction norms are re-derived from
    // (list, codes) + the centroid literals with identical arithmetic,
    // so a loaded index reproduces the training session bit-for-bit
    val encRel = enc.getOrElse(ivfPqEncode(corpus, idCol, vecCol, coarse, pq))
      .select(col(idCol).as("match_id"), col("list").as("__list"),
        col("codes").as("__codes"))
      .withColumn("__c", element_at(cents, col("__list") + 1))
      .select(col("match_id"), col("__list"), col("__codes"),
        sqrt(vec_dot(col("__c"), col("__c")) +
          lit(2.0) * pq_adc(col("__c"), col("__codes"), pq.flat, pq.dsub) +
          pq_adc(ones, col("__codes"), pq.flatSq, pq.dsub)).as("__rn"))
    // no filter on __rn — see pqTopK: predicate pushdown would inline
    // the whole encode tree into the scan Filter (measured 1.8 MB plan
    // lines, 9.4 MiB task binaries, 7.4 s steady on a 550-row corpus);
    // the zero/NaN guard rides inside the score instead (null ranks
    // last; NaN would rank FIRST under desc — when() surfaces neither)
    val q = side(queries, idCol, vecCol, query = true)
      .filter(size(col("__qv")) === pq.dim)
    val probes = broadcast(q
      .withColumn("__list", explode(coarse.assignK(col("__qv"), nprobe)))
      .withColumn("__qc",
        vec_dot(col("__qv"), element_at(cents, col("__list") + 1))))
    // a corpus row lives in exactly one list, so each (query, match)
    // pair surfaces at most once — no post-join dedup needed
    val cand = encRel.join(probes, Seq("__list"))
      .filter(col("match_id") =!= col("query_id"))
      .select(col("query_id"), col("match_id"),
        when(col("__rn") > 0,
          (col("__qc") +
            pq_adc(col("__qv"), col("__codes"), pq.flat, pq.dsub)) /
            (col("__qn") * col("__rn"))).as("__acos"))
    rescoreExact(cand, q, corpus, idCol, vecCol, k, rescoreFactor)
  }

  /** The guarded IVF-PQ-encoded corpus relation `(idCol, list, codes)`
    * — [[ivfPqTopK]]'s default scan (its `enc` parameter accepts a
    * persisted copy) and what [[IndexStore.saveIvfPq]] persists.
    */
  def ivfPqEncode(corpus: DataFrame, idCol: String, vecCol: String,
      coarse: IvfIndex, pq: PqIndex): DataFrame = {
    val cents = typedlit(coarse.centroids.map(_.toSeq).toSeq)
    corpus
      .filter(size(col(vecCol)) === pq.dim && vec_l2norm(col(vecCol)) > 0)
      .select(col(idCol), col(vecCol).as("__cv"),
        coarse.assignK(col(vecCol), 1)(0).as("list"))
      .withColumn("__c", element_at(cents, col("list") + 1))
      .select(col(idCol), col("list"),
        pq.encode(zip_with(col("__cv"), col("__c"), (a, b) => a - b))
          .as("codes"))
  }
}
