package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.Retrieval
import graft.functions.VectorExprs.vec_dot

/** Round-13 batch: Okapi BM25 lexical retrieval (q197), the
  * BM25+cosine RRF hybrid (q198) — the lexical scorer a real
  * hybrid-retrieval pipeline runs in front of [[Retrieval.rrfFuse]]
  * (q185 fused Jaccard+cosine; BM25 is the production-shaped lexical
  * leg) — plus the incremental-index-maintenance pair (q199 PQ batch
  * append under a hard gate; q201 a persisted+appended BM25 store
  * serving q197's contract, fully oracled) and the mixed-format
  * multimodal decode (q200, oracled over lossless raster round
  * trips). BM25 scores are bit-identical across engines via the
  * quantized-idf + pinned-parenthesization + term-ordered-fold
  * discipline ([[Retrieval.bm25TopK]] scaladoc).
  */
object Queries23 {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables(s, dir, name)

  // Oracle-parity constraint (ADVICE r13): this tokenizer's parity with
  // the DuckDB oracle rests on Java regex \s+ / lower() agreeing with
  // RE2 regexp_split_to_array / lower — they diverge on vertical tab
  // (\x0B is \s in Java, not in RE2) and on locale-sensitive casings
  // (the r11 'ß' lesson). The current corpora are ASCII-space-and-
  // lowercase-safe; if a testdata regen ever carries such bytes, the
  // gate flips HERE, not in the scorer — normalize tokens with an
  // engine-neutral charset filter before re-litigating BM25 math.
  private[graft] def tokenized(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
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
      .join(t(s, dir, "embeddings").select(col("vec_id"), col("embedding")),
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
    // zero-norm guard INSIDE the value (round-5 rule: NaN cos would
    // head every desc top-k; null ranks last) — mirrored in the oracle
    val cos = corpus.join(
        broadcast(panel.select(col("id").as("qid"), col("v").as("qv"))),
        col("id") =!= col("qid"))
      .select(col("qid"), col("id").as("cid"),
        when(vec_dot(col("qv"), col("qv")) > 0 &&
            vec_dot(col("v"), col("v")) > 0,
          vec_dot(col("qv"), col("v")) /
            (sqrt(vec_dot(col("qv"), col("qv"))) *
              sqrt(vec_dot(col("v"), col("v"))))).as("cos"))
    val wc = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("cid"))
    val cosr = cos.filter(col("cos").isNotNull)
      .withColumn("r", row_number().over(wc))
      .filter(col("r") <= 50)
      .select(col("qid").as("query_id"), col("cid").as("match_id"),
        col("r").as("rank"))
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

  /** Corpus split for the incremental-append store: the q187 planted
    * corpus, with every 7th id as the ARRIVING batch and the rest as
    * the RESIDENT corpus the codebooks were trained on.
    */
  private[graft] def appendParts(s: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame) = {
    val base = t(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
    val corpus = QueryFixtures.plantedEmbeddings(base)
    (corpus,
      corpus.filter(col("vec_id") % 7 =!= 0),
      corpus.filter(col("vec_id") % 7 === 0))
  }

  private[graft] def appendPqKey(dir: String): String =
    s"$dir:embeddings:pq-append"

  /** Build-once (per process/sfDir): save a PQ store encoded from the
    * RESIDENT corpus only, then [[IndexStore.appendCodes]] the arriving
    * batch encoded with the LOADED (frozen) codebooks — never a
    * retrain, never a corpus re-encode. Returns the store path.
    */
  private[graft] def appendStore(s: SparkSession, dir: String): String =
    TmpDirs.buildOnce("pq_append_store", dir) { store =>
      import graft.operators.{IndexStore, Similarity}
      val (_, resident, arriving) = appendParts(s, dir)
      val idx = Similarity.PqIndex.trainCached(appendPqKey(dir),
        resident, "e", m = 8, ksub = 16)
      IndexStore.savePq(s, store, idx,
        Similarity.pqEncode(resident, "vec_id", "e", idx), "vec_id")
      val (loaded, _) = IndexStore.loadPq(s, store)
      IndexStore.appendCodes(s, store,
        Similarity.pqEncode(arriving, "vec_id", "e", loaded), "vec_id")
    }

  /** PQ ANN over an INCREMENTALLY-MAINTAINED store: codebooks trained
    * on the resident corpus, the arriving batch encoded with the loaded
    * frozen books and appended to `codes.parquet`
    * ([[graft.operators.IndexStore.appendCodes]]) — the probe then
    * serves resident + appended rows alike. Rows-only; the Verify
    * assertion pins (a) probe output == a probe over a FULL inline
    * encode with the same index, row-for-row, and (b) the appended
    * batch codes == the full-encode codes for those ids, bit-equal.
    */
  def q199_pq_append_topk(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.{IndexStore, Similarity}
    val (corpus, _, _) = appendParts(s, dir)
    val store = appendStore(s, dir)
    val (idx, codes) = IndexStore.loadPq(s, store)
    Similarity.pqTopK(
        corpus.filter(col("vec_id") % 10 === 0 && col("vec_id") < 500),
        corpus, "vec_id", "e", k = 5, index = idx, codes = Some(codes))
      .select(col("query_id"), col("match_id"),
        round(col("cos"), 6).as("cos"), col("rank"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Mixed-format multimodal decode — q35's digest coverage extended
    * from the opaque payload to the DECODED raster (r12 verdict item
    * 6): per document a 4×3 RGB raster is derived from md5(text)
    * (ascii hex bytes — both engines can construct it), encoded BMP /
    * PPM / PNG by doc_id mod 4 (3 = raw text bytes → stub path), run
    * through [[graft.operators.Multimodal.decode]], and reported as
    * (id, format, width, height, channels, md5-of-decoded-pixels).
    * FULLY oracled because the three real formats are LOSSLESS — the
    * decoded raster is bit-equal to the construction, which DuckDB
    * rebuilds in SQL (JPEG is lossy, so its decode-determinism
    * contract lives in the spec, not here).
    */
  def q200_multimodal_decode(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.operators.Multimodal
    val rows = t(s, dir, "documents")
      .filter(col("text").isNotNull)
      .select(col("doc_id"), md5(col("text").cast("binary")).as("hex"),
        col("text"))
      .as[(Long, String, String)]
    rows.mapPartitions { it =>
      // per-partition codec/digest setup — the mapInPandas batch shape
      val md = java.security.MessageDigest.getInstance("MD5")
      it.map { case (id, hex, text) =>
        val raster = (hex + hex.substring(0, 4))
          .getBytes(java.nio.charset.StandardCharsets.US_ASCII) // 36 B
        val media = (id % 4).toInt match {
          case 0 => Multimodal.encodeBmp24(4, 3, raster)
          case 1 => Multimodal.encodePpm(4, 3, raster)
          case 2 => Multimodal.encodePng(4, 3, raster)
          case _ => text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        }
        val d = Multimodal.decode(media)
        md.reset()
        val dig = md.digest(d.pixels).map(b => f"$b%02x").mkString
        (id, d.format, d.width, d.height, d.channels, dig)
      }
    }.toDF("id", "format", "width", "height", "channels", "pixel_digest")
      .orderBy(col("id"))
  }

  /** Build-once: a persisted BM25 store from the RESIDENT corpus
    * (ids ≢ 0 mod 7), then [[graft.operators.IndexStore.appendCodes]]
    * the arriving batch's postings — computed INDEPENDENTLY (postings
    * are per-doc pure; nothing is frozen, unlike the ANN codebooks).
    */
  private[graft] def bm25Store(s: SparkSession, dir: String): String =
    TmpDirs.buildOnce("bm25_store", dir) { store =>
      import graft.operators.{IndexStore, Retrieval}
      val corpus = tokenized(s, dir)
      IndexStore.saveBm25(s, store,
        Retrieval.bm25Postings(corpus.filter(col("id") % 7 =!= 0),
          "id", "toks"), "id")
      IndexStore.appendCodes(s, store,
        Retrieval.bm25Postings(corpus.filter(col("id") % 7 === 0),
          "id", "toks"), "id")
    }

  /** q197's exact contract SERVED from a persisted + incrementally
    * APPENDED BM25 store ([[bm25Store]]): N/totdl/df are re-derived
    * from the merged posting file at serve time, so append == full
    * rebuild EXACTLY (integer sufficient stats; tf/dl per-doc pure).
    * FULLY ORACLED with q197's SQL verbatim — the strongest form of
    * the store-roundtrip check: DuckDB recomputes the whole ranking
    * from the raw table and must hash-match the served output.
    */
  def q201_bm25_store_topk(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.{IndexStore, Retrieval}
    val store = bm25Store(s, dir)
    val panel = tokenized(s, dir)
      .filter(col("id") % 40 === 0 && col("id") < 2000)
      .select(col("id").as("qid"), array_distinct(col("toks")).as("qterms"))
    Retrieval.bm25TopKFromPostingsAuto(IndexStore.loadBm25(s, store),
        "id", panel, "qid", "qterms", k = 10, excludeSelf = true,
        assumeStable = true) // store postings ARE the file-backed scan
      .select(col("query_id"), col("match_id"),
        round(col("score"), 9).as("bm25"), col("rank"))
      .orderBy(col("query_id"), col("rank"))
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q197_bm25_topk" -> q197_bm25_topk _,
    "q198_hybrid_bm25_rrf" -> q198_hybrid_bm25_rrf _,
    "q199_pq_append_topk" -> q199_pq_append_topk _,
    "q200_multimodal_decode" -> q200_multimodal_decode _,
    "q201_bm25_store_topk" -> q201_bm25_store_topk _)

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

  private val q197Oracle: String =
    bm25Cte(
      """SELECT doc_id AS id,
        |    list_filter(regexp_split_to_array(lower(trim(text)),'\s+'),
        |                x -> length(x) > 0) AS toks
        |  FROM documents WHERE length(trim(text)) > 0""".stripMargin) +
      """
        |SELECT qid AS query_id, cid AS match_id,
        |  round(score, 9) AS bm25, r AS rank
        |FROM bm25r WHERE r <= 10 ORDER BY query_id, rank""".stripMargin

  val oracles: Map[String, String] = Map(
    // q201 serves q197's exact contract from the appended store — the
    // oracle recomputes the ranking from the raw table either way
    "q201_bm25_store_topk" -> q197Oracle,
    "q197_bm25_topk" -> q197Oracle,
    "q198_hybrid_bm25_rrf" ->
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
          |FROM fused QUALIFY rank <= 10 ORDER BY qid, rank""".stripMargin),
    "q200_multimodal_decode" ->
      """SELECT doc_id AS id,
        |  CASE doc_id % 4 WHEN 0 THEN 'bmp' WHEN 1 THEN 'ppm'
        |    WHEN 2 THEN 'png' ELSE 'stub' END AS format,
        |  CASE WHEN doc_id % 4 = 3
        |    THEN 16 + octet_length(CAST(text AS BLOB)) % 64
        |    ELSE 4 END AS width,
        |  CASE WHEN doc_id % 4 = 3
        |    THEN 16 + (octet_length(CAST(text AS BLOB)) // 64) % 64
        |    ELSE 3 END AS height,
        |  3 AS channels,
        |  CASE WHEN doc_id % 4 = 3 THEN md5(text)
        |    ELSE md5(md5(text) || substr(md5(text), 1, 4)) END
        |    AS pixel_digest
        |FROM documents WHERE text IS NOT NULL ORDER BY id""".stripMargin)
}
