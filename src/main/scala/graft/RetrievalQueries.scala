package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorExprs
import graft.operators.{Retrieval, Similarity}

/** ANN/retrieval family: in-memory vector search and lexical retrieval
  * built on [[graft.operators.Similarity]] (exact, LSH, IVF and PQ
  * top-k), [[graft.operators.Retrieval]] (BM25, reciprocal-rank fusion)
  * and the `VectorExprs` kernels. The persisted-index variants are in
  * [[StoreQueries]].
  */
object RetrievalQueries {

  /** brute-force cosine top-k for a FIXED panel of query vectors (the
    * ANN baseline). The panel predicate is capped (`vec_id < 2500`) so
    * the query count stops growing with the corpus: identical results
    * at every oracle SF (max base id there is 1999), but the exact scan
    * stays LINEAR in corpus size at rehearsal scale — the uncapped
    * `% 50` panel made total work quadratic (panel ~n/50 × corpus n:
    * 86.6 s at 100×, vs the fixed panel's corpus-proportional scan).
    * An unbounded exact all-pairs contract already exists as q34.
    */
  def q33_cosine_topk(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables(s, dir, "embeddings")
    Similarity.bruteForceTopK(
        emb.filter(col("vec_id") % 50 === 0 && col("vec_id") < 2500),
        emb, "vec_id", "embedding", 5)
      .select(col("query_id"), col("match_id"), round(col("cos"), 6).as("cos"),
        col("rank"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** global top-20 most-similar embedding pairs (embedding near-dup). */
  def q34_embed_top_pairs(s: SparkSession, dir: String): DataFrame =
    Similarity.topPairs(Tables(s, dir, "embeddings"), "vec_id", "embedding", 20)
      .select(col("id_a"), col("id_b"), round(col("cos"), 6).as("cos"))

  /** LSH-bucketed approximate NN (the at-scale ANN path; rows-only —
    * approximate by design, recall vs q33 eyeballed in review).
    */
  def q44_ann_topk(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables(s, dir, "embeddings")
    // fixed query panel (see q33): `< 2500` is a no-op at the oracle SFs
    // (max base id 1999) but stops the panel — and the probe broadcast —
    // growing with the corpus at rehearsal scale
    Similarity.annTopK(
        emb.filter(col("vec_id") % 50 === 0 && col("vec_id") < 2500), emb,
        "vec_id", "embedding", k = 5, dim = 64, planes = 8)
      .select(col("query_id"), col("match_id"), round(col("cos"), 6).as("cos"),
        col("rank"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** IVF (k-means inverted-file) approximate NN — the second ANN scale
    * path beside LSH (rows-only; KMeans isn't reproducible in DuckDB;
    * nprobe==nlist equality with brute force is asserted in IvfSpec).
    */
  def q46_ivf_topk(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables(s, dir, "embeddings")
    // corpus-size geometry (scaledIvfGeometry — MEASURED √n rule; the
    // static nlist=8 lost recall as its cells grew: 0.82 at 200k
    // vectors vs 0.995 scaled) — train-once cache returns the paired
    // nprobe so the probe fraction stays pinned at ~1/8
    val (idx, nprobe) = Similarity.IvfIndex.trainCachedScaled(
      s"$dir:embeddings", emb, "embedding")
    // fixed query panel (see q33/q44): no-op at oracle SFs, keeps the
    // probe side broadcast-sized at rehearsal scale
    Similarity.ivfTopK(
        emb.filter(col("vec_id") % 50 === 0 && col("vec_id") < 2500), emb,
        "vec_id", "embedding", k = 5, nprobe = nprobe,
        index = Some(idx))
      .select(col("query_id"), col("match_id"), round(col("cos"), 6).as("cos"),
        col("rank"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** LSH-gated global top-pairs (the 100 TB near-dup path; rows-only —
    * Verify asserts recall ≥ 0.9 vs the exact all-pairs top-20 plus an
    * exact rescore of every emitted score; exact-regime equality is also
    * asserted in IvfSpec; q34 remains the exact oracled twin on the raw
    * corpus).
    *
    * Round 7: the corpus gets [[QueryFixtures.plantedEmbeddings]]'
    * near-dups (the raw data's top pairs sit at cos 0.40–0.51 — the
    * measured UNGATEABLE regime, where recall came only from accidental
    * band collisions), and the geometry is
    * [[Similarity.scaledLshGeometry]]-derived: the 30× rehearsal
    * measured the fixed 7-bit default going quadratic (1.5 s → 273 s
    * at 30× rows) exactly as PLANS.md's band-width rule predicts.
    */
  def q49_top_pairs_lsh(s: SparkSession, dir: String): DataFrame = {
    val base = Tables(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
    Similarity.topPairsLshScaled(QueryFixtures.plantedEmbeddings(base),
        "vec_id", "e", n = 20, dim = 64)
      .select(col("id_a"), col("id_b"), round(col("cos"), 6).as("cos"))
  }

  /** int8-quantized dot products against a fixed query vector — the
    * quantized-scan half of two-stage ANN, as deterministic integer math
    * (quantize q_i = clamp(floor(x_i/0.05 + 0.5), ±127); dot in int64)
    * so DuckDB reproduces it bit-exactly.
    */
  def q64_quantized_dot(s: SparkSession, dir: String): DataFrame = {
    val e = Tables(s, dir, "embeddings")
    val q = broadcast(e.filter(col("vec_id") === 0)
      .select(VectorExprs.vec_q8(col("embedding"), 0.05).as("__q")))
    e.crossJoin(q)
      .select(col("vec_id"),
        VectorExprs.vec_dot_q8(
          VectorExprs.vec_q8(col("embedding"), 0.05), col("__q")).as("qdot"))
      .orderBy(col("qdot").desc, col("vec_id"))
      .limit(50)
  }

  /** per-label dot-product stats against one fixed query embedding —
    * the codegen vec_dot kernel under a deterministic oracle (both
    * engines accumulate left-to-right in double).
    */
  def q87_label_dot_stats(s: SparkSession, dir: String): DataFrame = {
    val e = Tables(s, dir, "embeddings")
    val q = e.filter(col("vec_id") === 0).select(col("embedding").as("qe"))
    e.crossJoin(broadcast(q))
      .select(col("label"),
        graft.functions.VectorExprs.vec_dot(col("embedding"), col("qe"))
          .as("d"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n"), round(avg(col("d")), 4).as("avg_dot"),
        round(min(col("d")), 4).as("min_dot"),
        round(max(col("d")), 4).as("max_dot"))
      .orderBy(col("label"))
  }

  /** nearest-centroid classification accuracy per label — the eval loop
    * of embedding curation: train per-label centroids (posexplode +
    * per-dim avg, map-side combinable), broadcast the 10-row centroid
    * table, score every vector with the codegen dot kernel
    * (argmax of v·c − ½‖c‖² == nearest centroid), report per-label
    * accuracy. Ties broken by label in both engines.
    */
  def q111_centroid_classify(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.VectorExprs.vec_dot
    val e = Tables(s, dir, "embeddings")
      .select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("v"))
    val cvec = e
      .select(col("label").as("clabel"),
        posexplode(col("v")).as(Seq("d", "x")))
      .groupBy(col("clabel"), col("d")).agg(avg(col("x")).as("c"))
      .groupBy(col("clabel"))
      .agg(transform(array_sort(collect_list(struct(col("d"), col("c")))),
        f => f.getField("c")).as("cv"))
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("s").desc, col("clabel"))
    // argmax on the ROUNDED score: the avg() centroids' summation order
    // differs between engines (and across repartitionings), so a near-tie
    // within a few ulps could flip the unrounded argmax — same class as
    // the round(avg,4) half-boundary flake. round(,9) keeps real gaps.
    e.crossJoin(broadcast(cvec))
      .select(col("vec_id"), col("label"), col("clabel"),
        round(vec_dot(col("v"), col("cv")) -
          lit(0.5) * vec_dot(col("cv"), col("cv")), 9).as("s"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n"),
        count(when(col("clabel") === col("label"), 1)).as("n_correct"),
        round(count(when(col("clabel") === col("label"), 1)).cast("double")
          / count(lit(1)), 4).as("acc"))
      .orderBy(col("label"))
  }

  /** Product-quantization ANN top-k over the planted near-dup corpus —
    * the 32×-compressed scan path beside LSH (q44) and IVF (q46):
    * corpus vectors compress to 8 codes, the candidate scan scores
    * codes directly with the [[graft.functions.VectorExprs.PqAdc]] ADC
    * kernel, survivors are exactly rescored from the raw vectors
    * ([[graft.operators.Similarity.pqTopK]]). Rows-only (k-means
    * codebooks aren't DuckDB-reproducible); the Verify assertion
    * demands every planted query recover its jittered copy
    * (cos ≈ 0.9967 vs background ≤ 0.51) AND every emitted cosine
    * equal the raw-vector recomputation. Fixed 50-source query panel
    * (no-op filter at oracle SFs, bounds the broadcast at rehearsal
    * scale — the q44/q46 convention).
    */
  def q176_pq_topk(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Similarity
    val base = Tables(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
    val corpus = QueryFixtures.plantedEmbeddings(base)
    // codebooks train on the RAW corpus sample (the jittered copies add
    // no geometry) — train-once cache, q46's discipline
    val idx = Similarity.PqIndex.trainCached(s"$dir:embeddings:pq",
      base, "e", m = 8, ksub = 16)
    val queries = corpus.filter(col("vec_id") % 10 === 0 &&
      col("vec_id") < 500)
    Similarity.pqTopK(queries, corpus, "vec_id", "e", k = 5, index = idx)
      .select(col("query_id"), col("match_id"),
        round(col("cos"), 6).as("cos"), col("rank"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** IVF-PQ ANN top-k over the planted near-dup corpus — the composite
    * index every 100 TB vector store runs (coarse inverted lists route
    * the probe to ~nprobe/nlist of the corpus; PQ residual codes make
    * the probed scan 32×-compressed): coarse quantizer trained on the
    * raw corpus sample, PQ codebooks on its coarse RESIDUALS, scoring
    * entirely through the [[graft.functions.VectorExprs.PqAdc]] kernel,
    * survivors exactly rescored
    * ([[graft.operators.Similarity.ivfPqTopK]]). Rows-only (k-means
    * codebooks aren't DuckDB-reproducible); the Verify assertion
    * demands planted-copy recovery AND exact-rescore equality, the
    * q176 contract at a fraction of its scanned mass. Same fixed
    * 50-source query panel.
    */
  def q177_ivfpq_topk(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Similarity
    val base = Tables(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
    val corpus = QueryFixtures.plantedEmbeddings(base)
    val coarse = Similarity.IvfIndex.trainCached(
      s"$dir:embeddings:ivfpq-coarse", base, "e", nlist = 16)
    val pq = Similarity.trainPqResidualsCached(
      s"$dir:embeddings:ivfpq-res", base, "e", coarse, m = 8, ksub = 16)
    val queries = corpus.filter(col("vec_id") % 10 === 0 &&
      col("vec_id") < 500)
    Similarity.ivfPqTopK(queries, corpus, "vec_id", "e", k = 5,
        coarse = coarse, pq = pq, nprobe = 4)
      .select(col("query_id"), col("match_id"),
        round(col("cos"), 6).as("cos"), col("rank"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Hybrid retrieval: token-set-Jaccard top-50 and exact-cosine
    * top-50 per panel query, merged by [[Retrieval.rrfFuse]] into a
    * top-10 — with each source rank carried for display (−1 = absent
    * from that list). Corpus = documents ⋈ embeddings on id (the two
    * tables share an id domain; the intersection is the "registered"
    * corpus), panel = every 40th id. Candidate scoring is two
    * broadcast-panel NL joins over the checkpointed corpus (panel ×
    * corpus rows, never corpus²); ranks are panel-keyed windows.
    *
    * Parity: Jaccard is an int/int division; cos is
    * [[Similarity.bruteForceTopK]]'s, which mirrors q87's left-to-right
    * `vec_dot`/`list_inner_product` accumulation with one fixed
    * parenthesization (each norm the square root of the same
    * left-to-right self-dot); the RRF fold order is pinned by
    * rrfFuse (scaladoc) and mirrored as t_lex + t_cos; ranks break
    * ties on the candidate id, fusion ranks on (score, id).
    */
  def q185_hybrid_rrf(s: SparkSession, dir: String): DataFrame = {
    val corpus = Tables(s, dir, "documents")
      .select(col("doc_id"), col("text"))
      .join(Tables(s, dir, "embeddings").select(col("vec_id"), col("embedding")),
        col("doc_id") === col("vec_id"))
      .filter(length(trim(col("text"))) > 0)
      .select(col("doc_id").as("id"),
        array_distinct(filter(split(lower(trim(col("text"))), "\\s+"),
          x => length(x) > 0)).as("toks"),
        col("embedding").cast("array<double>").as("v"))
      .localCheckpoint() // feeds the panel + both candidate scans
    // FIXED panel: the bare modulo grows the panel with the corpus
    // (5000 queries at sf10 — 464 s; the r8 q33/q44/q46 lesson). The
    // id cap is a no-op at every oracle SF (ids < 2000 there) and pins
    // the panel at 50 queries at any scale.
    val panel = corpus.filter(col("id") % 40 === 0 && col("id") < 2000)
    val lex = corpus.join(
        broadcast(panel.select(col("id").as("qid"), col("toks").as("qtoks"))),
        col("id") =!= col("qid"))
      .select(col("qid"), col("id").as("cid"),
        (size(array_intersect(col("qtoks"), col("toks"))).cast("double") /
          size(array_union(col("qtoks"), col("toks"))).cast("double")).as("j"))
    val wl = Window.partitionBy(col("qid")).orderBy(col("j").desc, col("cid"))
    val lexr = lex.withColumn("r", row_number().over(wl))
      .filter(col("r") <= 50)
      .select(col("qid").as("query_id"), col("cid").as("match_id"),
        col("r").as("rank"))
      .localCheckpoint() // ≤50·|panel| rows; feeds fuse + display join
    // zero-norm vectors drop out on both sides (NaN cos would head
    // every desc top-k) — mirrored in the oracle
    val cosr = Similarity.bruteForceTopK(panel, corpus, "id", "v", 50)
      .select(col("query_id"), col("match_id"), col("rank"))
      .localCheckpoint()
    Retrieval.rrfFuse(Seq(lexr, cosr), k = 10)
      .join(lexr.withColumnRenamed("rank", "lex_rank"),
        Seq("query_id", "match_id"), "left_outer")
      .join(cosr.withColumnRenamed("rank", "cos_rank"),
        Seq("query_id", "match_id"), "left_outer")
      .select(col("query_id").as("qid"), col("match_id").as("cid"),
        round(col("score"), 9).as("rrf"),
        coalesce(col("lex_rank"), lit(-1)).as("lex_rank"),
        coalesce(col("cos_rank"), lit(-1)).as("cos_rank"),
        col("rank"))
      .orderBy(col("qid"), col("rank"))
  }

  /* BM25 scores are bit-identical across engines via the
   * quantized-idf + pinned-parenthesization + term-ordered-fold
   * discipline ([[Retrieval.bm25TopK]] scaladoc).
   */

  // Oracle-parity constraint (ADVICE r13): this tokenizer's parity with
  // the DuckDB oracle rests on Java regex \s+ / lower() agreeing with
  // RE2 regexp_split_to_array / lower — they diverge on vertical tab
  // (\x0B is \s in Java, not in RE2) and on locale-sensitive casings
  // (the r11 'ß' lesson). The current corpora are ASCII-space-and-
  // lowercase-safe; if a testdata regen ever carries such bytes, the
  // gate flips HERE, not in the scorer — normalize tokens with an
  // engine-neutral charset filter before re-litigating BM25 math.
  private[graft] def tokenized(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents")
      .filter(length(trim(col("text"))) > 0)
      .select(col("doc_id").as("id"),
        filter(split(lower(trim(col("text"))), "\\s+"),
          x => length(x) > 0).as("toks"))

  /** BM25 top-10 over the documents corpus ([[Retrieval.bm25TopK]],
    * k1=1.2, b=0.75): a FIXED 50-query panel (every 40th doc id,
    * capped < 2000 — the r8 panel rule: a bare modulo grows the panel
    * with the corpus) queries with its distinct token set; candidates
    * ride the inverted-index postings join. Scores bit-equal across
    * engines (operator scaladoc), ranks break ties by candidate id.
    */
  def q197_bm25_topk(s: SparkSession, dir: String): DataFrame = {
    val corpus = tokenized(s, dir)
    val panel = corpus.filter(col("id") % 40 === 0 && col("id") < 2000)
      .select(col("id").as("qid"), array_distinct(col("toks")).as("qterms"))
    // AUTO serving path (r14): dense-vocab kernel here (31-term corpus),
    // max-score pruned postings join on sparse vocabularies — provably
    // bit-equal either way, and the oracle recomputes the UNPRUNED
    // ranking, so every green run re-proves the equality.
    Retrieval.bm25TopKAuto(corpus, "id", "toks", panel, "qid", "qterms",
        k = 10, excludeSelf = true)
      .select(col("query_id"), col("match_id"),
        round(col("score"), 9).as("bm25"), col("rank"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Hybrid retrieval, production shape: BM25 top-50 (lexical) and
    * exact-cosine top-50 (embedding) per panel query over the
    * documents∩embeddings corpus, fused by [[Retrieval.rrfFuse]] into
    * a top-10 with each source rank displayed (−1 = absent). The q185
    * pattern with the Jaccard leg replaced by the scorer a real
    * pipeline runs. BM25 stats (N, avgdl, df) are computed over the
    * JOINED corpus — the index serves the registered docs, not the
    * raw table.
    */
  def q198_hybrid_bm25_rrf(s: SparkSession, dir: String): DataFrame = {
    val corpus = tokenized(s, dir)
      .join(Tables(s, dir, "embeddings").select(col("vec_id"), col("embedding")),
        col("id") === col("vec_id"))
      .select(col("id"), col("toks"),
        col("embedding").cast("array<double>").as("v"))
      .localCheckpoint() // feeds panel + BM25 index + cosine scan
    val panel = corpus.filter(col("id") % 40 === 0 && col("id") < 2000)
      .localCheckpoint() // small; feeds qterms + query vectors
    val bm25r = Retrieval.bm25TopKAuto(corpus, "id", "toks",
        panel.select(col("id").as("qid"),
          array_distinct(col("toks")).as("qterms")),
        "qid", "qterms", k = 50, excludeSelf = true)
      .select(col("query_id"), col("match_id"), col("rank"))
      .localCheckpoint() // ≤50·|panel| rows; feeds fuse + display join
    // zero-norm vectors drop out on both sides (NaN cos would head
    // every desc top-k) — mirrored in the oracle
    val cosr = Similarity.bruteForceTopK(panel, corpus, "id", "v", 50)
      .select(col("query_id"), col("match_id"), col("rank"))
      .localCheckpoint()
    Retrieval.rrfFuse(Seq(bm25r, cosr), k = 10)
      .join(bm25r.withColumnRenamed("rank", "bm25_rank"),
        Seq("query_id", "match_id"), "left_outer")
      .join(cosr.withColumnRenamed("rank", "cos_rank"),
        Seq("query_id", "match_id"), "left_outer")
      .select(col("query_id").as("qid"), col("match_id").as("cid"),
        round(col("score"), 9).as("rrf"),
        coalesce(col("bm25_rank"), lit(-1)).as("bm25_rank"),
        coalesce(col("cos_rank"), lit(-1)).as("cos_rank"),
        col("rank"))
      .orderBy(col("qid"), col("rank"))
  }

  // Shared BM25 CTE prefix — the formula mirrors Retrieval.bm25TopK
  // VERBATIM: same parenthesization, (1.2 + 1.0) computed as a SUM
  // (a folded 2.2 literal is a DIFFERENT double), idf quantized via
  // round(·,6) before the multiply, contributions folded in term order.
  /** `materializedDocs` marks the docs CTE AS MATERIALIZED — required
    * when `corpusSql` is itself an expensive CTE chain (q205's 3-batch
    * admission replay): DuckDB otherwise inlines `docs` into each of
    * its three consumers and re-executes the whole chain (measured
    * 45.8 → 5.1 s at sf0.01). Purely a planner hint — results are
    * identical, so the default stays unmarked for the committed
    * q197/q201/q202 oracle texts.
    */
  private[graft] def bm25Cte(corpusSql: String,
      materializedDocs: Boolean = false): String =
    s"""WITH docs AS ${if (materializedDocs) "MATERIALIZED " else ""}(
       |  $corpusSql
       |), d2 AS (SELECT id, toks, len(toks) AS dl FROM docs
       |          WHERE len(toks) > 0),
       | stats AS (SELECT count(*)::DOUBLE n, sum(dl)::DOUBLE totdl FROM d2),
       | tf AS (SELECT id, dl::DOUBLE dl, term, count(*)::DOUBLE tf
       |        FROM (SELECT id, dl, unnest(toks) term FROM d2) GROUP BY 1,2,3),
       | dfr AS (SELECT term, count(*)::DOUBLE df FROM tf GROUP BY 1),
       | q AS (SELECT id qid, unnest(list_distinct(toks)) term FROM d2
       |       WHERE id % 40 = 0 AND id < 2000),
       | c AS (SELECT q.qid, tf.id cid, tf.term,
       |         round(ln((stats.n - dfr.df + 0.5)/(dfr.df + 0.5) + 1.0), 6) *
       |         ((tf.tf * (1.2 + 1.0)) /
       |          (tf.tf + 1.2 * ((1.0 - 0.75) +
       |            (0.75 * tf.dl)/(stats.totdl/stats.n)))) AS c
       |       FROM tf JOIN dfr ON dfr.term = tf.term
       |               JOIN q ON q.term = tf.term, stats
       |       WHERE tf.id <> q.qid),
       | s AS (SELECT qid, cid,
       |         list_reduce(list_prepend(0.0::DOUBLE, list(c ORDER BY term)),
       |                     (a,x) -> a + x) AS score
       |       FROM c GROUP BY 1,2),
       | bm25r AS (SELECT qid, cid, score,
       |    row_number() OVER (PARTITION BY qid ORDER BY score DESC, cid)
       |      AS r
       |  FROM s)""".stripMargin

  private[graft] val q197Oracle: String =
    bm25Cte(
      """SELECT doc_id AS id,
        |    list_filter(regexp_split_to_array(lower(trim(text)),'\s+'),
        |                x -> length(x) > 0) AS toks
        |  FROM documents WHERE length(trim(text)) > 0""".stripMargin) +
      """
        |SELECT qid AS query_id, cid AS match_id,
        |  round(score, 9) AS bm25, r AS rank
        |FROM bm25r WHERE r <= 10 ORDER BY query_id, rank""".stripMargin

  val entries: Seq[Entry] = Seq(
    Entry("q33_cosine_topk", q33_cosine_topk, Some(
      """SELECT query_id, match_id, cos, rank FROM (
        |  SELECT q.vec_id AS query_id, c.vec_id AS match_id,
        |    round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
        |      CAST(c.embedding AS DOUBLE[])), 6) AS cos,
        |    row_number() OVER (PARTITION BY q.vec_id
        |      ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
        |        CAST(c.embedding AS DOUBLE[])) DESC, c.vec_id) AS rank
        |  FROM embeddings q, embeddings c
        |  WHERE q.vec_id % 50 = 0 AND q.vec_id < 2500
        |    AND c.vec_id != q.vec_id)
        |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin)),
    Entry("q34_embed_top_pairs", q34_embed_top_pairs, Some(
      """SELECT id_a, id_b, round(c, 6) AS cos FROM (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |    list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |      CAST(b.embedding AS DOUBLE[])) AS c
        |  FROM embeddings a, embeddings b WHERE a.vec_id < b.vec_id
        |  ORDER BY c DESC, id_a, id_b LIMIT 20)""".stripMargin)),
    Entry("q44_ann_topk", q44_ann_topk, None),
    Entry("q46_ivf_topk", q46_ivf_topk, None),
    Entry("q49_top_pairs_lsh", q49_top_pairs_lsh, None),
    Entry("q64_quantized_dot", q64_quantized_dot, Some(
      """WITH q AS (
        |  SELECT i, CAST(greatest(-127, least(127, floor(e / 0.05 + 0.5))) AS BIGINT) AS qe
        |  FROM (SELECT unnest(embedding) AS e, generate_subscripts(embedding, 1) AS i
        |        FROM embeddings WHERE vec_id = 0)
        |), c AS (
        |  SELECT vec_id, i, CAST(greatest(-127, least(127, floor(e / 0.05 + 0.5))) AS BIGINT) AS qe
        |  FROM (SELECT vec_id, unnest(embedding) AS e, generate_subscripts(embedding, 1) AS i
        |        FROM embeddings)
        |)
        |SELECT c.vec_id, CAST(sum(c.qe * q.qe) AS BIGINT) AS qdot
        |FROM c JOIN q ON c.i = q.i
        |GROUP BY c.vec_id ORDER BY qdot DESC, vec_id LIMIT 50""".stripMargin)),
    Entry("q87_label_dot_stats", q87_label_dot_stats, Some(
      """WITH q AS (
        |  SELECT CAST(embedding AS DOUBLE[]) AS qe FROM embeddings
        |  WHERE vec_id = 0
        |)
        |SELECT label, count(*) AS n,
        |  round(avg(list_inner_product(CAST(e.embedding AS DOUBLE[]),
        |    q.qe)), 4) AS avg_dot,
        |  round(min(list_inner_product(CAST(e.embedding AS DOUBLE[]),
        |    q.qe)), 4) AS min_dot,
        |  round(max(list_inner_product(CAST(e.embedding AS DOUBLE[]),
        |    q.qe)), 4) AS max_dot
        |FROM embeddings e CROSS JOIN q
        |GROUP BY label ORDER BY label""".stripMargin)),
    Entry("q111_centroid_classify", q111_centroid_classify, Some(
      """WITH e AS (
        |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings
        |), dims AS (
        |  SELECT label, generate_subscripts(v, 1) AS d, unnest(v) AS x
        |  FROM e
        |), cent AS (
        |  SELECT label, d, avg(x) AS c FROM dims GROUP BY label, d
        |), cvec AS (
        |  SELECT label AS clabel, list(c ORDER BY d) AS cv
        |  FROM cent GROUP BY label
        |), scored AS (
        |  SELECT e.vec_id, e.label, c.clabel,
        |    row_number() OVER (PARTITION BY e.vec_id ORDER BY
        |      round(list_inner_product(e.v, c.cv)
        |        - 0.5 * list_inner_product(c.cv, c.cv), 9) DESC,
        |      c.clabel) AS rn
        |  FROM e CROSS JOIN cvec c
        |)
        |SELECT label, count(*) AS n,
        |  count(CASE WHEN clabel = label THEN 1 END) AS n_correct,
        |  round(count(CASE WHEN clabel = label THEN 1 END)
        |    / CAST(count(*) AS DOUBLE), 4) AS acc
        |FROM scored WHERE rn = 1
        |GROUP BY label ORDER BY label""".stripMargin)),
    Entry("q176_pq_topk", q176_pq_topk, None),
    Entry("q177_ivfpq_topk", q177_ivfpq_topk, None),
    Entry("q185_hybrid_rrf", q185_hybrid_rrf, Some(
      """WITH corpus AS (
        |  SELECT d.doc_id AS id,
        |    list_distinct(list_filter(
        |      regexp_split_to_array(lower(trim(d.text)),'\s+'),
        |      x -> length(x) > 0)) AS toks,
        |    e.embedding::DOUBLE[] AS v
        |  FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id
        |  WHERE length(trim(d.text)) > 0
        |), q AS (SELECT * FROM corpus WHERE id % 40 = 0 AND id < 2000),
        | lex AS (
        |  SELECT q.id qid, c.id cid,
        |    len(list_intersect(q.toks, c.toks))::DOUBLE /
        |      len(list_distinct(list_concat(q.toks, c.toks)))::DOUBLE AS j
        |  FROM q JOIN corpus c ON c.id <> q.id
        |), lexr AS (
        |  SELECT qid, cid,
        |    row_number() OVER (PARTITION BY qid ORDER BY j DESC, cid) AS r
        |  FROM lex QUALIFY r <= 50
        |), cosv AS (
        |  SELECT q.id qid, c.id cid,
        |    CASE WHEN list_inner_product(q.v, q.v) > 0
        |          AND list_inner_product(c.v, c.v) > 0
        |    THEN list_inner_product(q.v, c.v) /
        |      (sqrt(list_inner_product(q.v, q.v)) *
        |        sqrt(list_inner_product(c.v, c.v))) END AS cos
        |  FROM q JOIN corpus c ON c.id <> q.id
        |), cosr AS (
        |  SELECT qid, cid,
        |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS r
        |  FROM cosv WHERE cos IS NOT NULL QUALIFY r <= 50
        |), fused AS (
        |  SELECT coalesce(l.qid, c.qid) qid, coalesce(l.cid, c.cid) cid,
        |    coalesce(1.0::DOUBLE/(60::DOUBLE + l.r::DOUBLE), 0.0) +
        |      coalesce(1.0::DOUBLE/(60::DOUBLE + c.r::DOUBLE), 0.0) AS score,
        |    l.r lr, c.r cr
        |  FROM lexr l FULL OUTER JOIN cosr c
        |    ON l.qid = c.qid AND l.cid = c.cid
        |)
        |SELECT qid, cid, round(score, 9) AS rrf,
        |  coalesce(lr, -1) AS lex_rank, coalesce(cr, -1) AS cos_rank,
        |  row_number() OVER (PARTITION BY qid ORDER BY score DESC, cid)
        |    AS rank
        |FROM fused QUALIFY rank <= 10 ORDER BY qid, rank""".stripMargin)),
    Entry("q197_bm25_topk", q197_bm25_topk, Some(q197Oracle)),
    Entry("q198_hybrid_bm25_rrf", q198_hybrid_bm25_rrf, Some(
      (bm25Cte(
        """SELECT d.doc_id AS id,
          |    list_filter(regexp_split_to_array(lower(trim(d.text)),'\s+'),
          |                x -> length(x) > 0) AS toks,
          |    e.embedding::DOUBLE[] AS v
          |  FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id
          |  WHERE length(trim(d.text)) > 0""".stripMargin) +
        """,
          | lexr AS (SELECT qid, cid, r FROM bm25r WHERE r <= 50),
          | qv AS (SELECT id qid, v FROM docs
          |        WHERE id % 40 = 0 AND id < 2000),
          | cosv AS (
          |  SELECT qv.qid, c2.id cid,
          |    CASE WHEN list_inner_product(qv.v, qv.v) > 0
          |          AND list_inner_product(c2.v, c2.v) > 0
          |    THEN list_inner_product(qv.v, c2.v) /
          |      (sqrt(list_inner_product(qv.v, qv.v)) *
          |        sqrt(list_inner_product(c2.v, c2.v))) END AS cos
          |  FROM qv JOIN docs c2 ON c2.id <> qv.qid
          |), cosr AS (
          |  SELECT qid, cid,
          |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS r
          |  FROM cosv WHERE cos IS NOT NULL QUALIFY r <= 50
          |), fused AS (
          |  SELECT coalesce(l.qid, c.qid) qid, coalesce(l.cid, c.cid) cid,
          |    coalesce(1.0::DOUBLE/(60::DOUBLE + l.r::DOUBLE), 0.0) +
          |      coalesce(1.0::DOUBLE/(60::DOUBLE + c.r::DOUBLE), 0.0) AS score,
          |    l.r lr, c.r cr
          |  FROM lexr l FULL OUTER JOIN cosr c
          |    ON l.qid = c.qid AND l.cid = c.cid
          |)
          |SELECT qid, cid, round(score, 9) AS rrf,
          |  coalesce(lr, -1) AS bm25_rank, coalesce(cr, -1) AS cos_rank,
          |  row_number() OVER (PARTITION BY qid ORDER BY score DESC, cid)
          |    AS rank
          |FROM fused QUALIFY rank <= 10 ORDER BY qid, rank""".stripMargin))))
}
