package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, IndexStore, Retrieval, Similarity}
import RetrievalQueries.tokenized

/** Streams/stores family: queries served from persisted artifacts —
  * [[graft.operators.IndexStore]] round trips and appends, the
  * [[StableStores]] signature and IVF stores, and the
  * [[graft.streaming.Streams]] refresh loops.
  *
  * This is the only catalog file that writes [[StableStores]]: the
  * `StableStores.CodeVersion` pin in `Round28OpsSpec` hashes it, so keep
  * queries that do not write a store out of it.
  */
object StoreQueries {

  /* The PERSISTED-index ANN pair — q176/q177's exact
   * contracts served from an [[graft.operators.IndexStore]] round trip
   * (train → save → LOAD → query off the loaded artifacts), the "index
   * outlives the job" property a 100 TB vector store needs. Verify
   * asserts each equals its in-memory twin row-for-row.
   */

  private def plantedCorpus(s: SparkSession, dir: String)
      : (DataFrame, DataFrame) = {
    val base = Tables(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
    (base, QueryFixtures.plantedEmbeddings(base))
  }

  /** PQ ANN served from a PERSISTED index: on the process's first call
    * the q176 codebooks (same train-once cache — no double training)
    * and the [[Similarity.pqEncode]] code column are written through
    * [[IndexStore.savePq]]; every call then LOADS the store and runs
    * [[Similarity.pqTopK]] entirely off the loaded codebooks + code
    * parquet — the corpus float vectors are touched only by the exact
    * rescore, exactly as a production probe against a prebuilt index
    * would. Rows-only; the Verify assertion pins output == q176
    * row-for-row (codes are ints and centroids parquet doubles, so
    * loaded == trained is bit-exact, not approximate).
    */
  def q187_pq_store_topk(s: SparkSession, dir: String): DataFrame = {
    val (base, corpus) = plantedCorpus(s, dir)
    val store = TmpDirs.buildOnce("pq_store", dir) { store =>
      val idx = Similarity.PqIndex.trainCached(s"$dir:embeddings:pq",
        base, "e", m = 8, ksub = 16)
      IndexStore.savePq(s, store, idx,
        Similarity.pqEncode(corpus, "vec_id", "e", idx), "vec_id")
    }
    val (idx, codes) = IndexStore.loadPq(s, store)
    val queries = corpus.filter(col("vec_id") % 10 === 0 &&
      col("vec_id") < 500)
    Similarity.pqTopK(queries, corpus, "vec_id", "e", k = 5,
        index = idx, codes = Some(codes))
      .select(col("query_id"), col("match_id"),
        round(col("cos"), 6).as("cos"), col("rank"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** IVF-PQ ANN served from a PERSISTED composite store (coarse
    * centroids + residual codebooks + the (id, list, codes) relation):
    * q177's contract with the probe scan running off loaded artifacts
    * only. Rows-only; Verify pins output == q177 row-for-row.
    */
  def q188_ivfpq_store_topk(s: SparkSession, dir: String): DataFrame = {
    val (base, corpus) = plantedCorpus(s, dir)
    val store = TmpDirs.buildOnce("ivfpq_store", dir) { store =>
      val coarse = Similarity.IvfIndex.trainCached(
        s"$dir:embeddings:ivfpq-coarse", base, "e", nlist = 16)
      val pq = Similarity.trainPqResidualsCached(
        s"$dir:embeddings:ivfpq-res", base, "e", coarse, m = 8, ksub = 16)
      IndexStore.saveIvfPq(s, store, coarse, pq,
        Similarity.ivfPqEncode(corpus, "vec_id", "e", coarse, pq),
        "vec_id")
    }
    val (coarse, pq, enc) = IndexStore.loadIvfPq(s, store)
    val queries = corpus.filter(col("vec_id") % 10 === 0 &&
      col("vec_id") < 500)
    Similarity.ivfPqTopK(queries, corpus, "vec_id", "e", k = 5,
        coarse = coarse, pq = pq, nprobe = 4, enc = Some(enc))
      .select(col("query_id"), col("match_id"),
        round(col("cos"), 6).as("cos"), col("rank"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Plain-IVF ANN served from a PERSISTED store (centroids + the
    * corpus assignment + the measured nprobe): q46's exact contract
    * with the probe job paying only an id-keyed join instead of the
    * O(nlist·dim) per-row assignment — the dominant corpus-side cost
    * at scaled nlist (447 lists × 64 dims at the 100× corpus). Same
    * `trainCachedScaled` cache key as q46, so the store is built from
    * the SAME index object; Verify pins output == q46 row-for-row.
    */
  def q195_ivf_store_topk(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables(s, dir, "embeddings")
    val store = TmpDirs.buildOnce("ivf_store", dir) { store =>
      val (idx, nprobe) = Similarity.IvfIndex.trainCachedScaled(
        s"$dir:embeddings", emb, "embedding")
      IndexStore.saveIvf(s, store, idx,
        Similarity.ivfAssign(emb, "vec_id", "embedding", idx),
        "vec_id", nprobe)
    }
    val (idx, nprobe, assigned) = IndexStore.loadIvf(s, store)
    Similarity.ivfTopK(
        emb.filter(col("vec_id") % 50 === 0 && col("vec_id") < 2500), emb,
        "vec_id", "embedding", k = 5, nprobe = nprobe,
        index = Some(idx), assigned = Some(assigned))
      .select(col("query_id"), col("match_id"),
        round(col("cos"), 6).as("cos"), col("rank"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Corpus split for the incremental-append store: the q187 planted
    * corpus, with every 7th id as the ARRIVING batch and the rest as
    * the RESIDENT corpus the codebooks were trained on.
    */
  private[graft] def appendParts(s: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame) = {
    val base = Tables(s, dir, "embeddings")
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

  /* The ingestion loop composed end-to-end (q202 —
   * arrival → exact-dedup admission → index append → serve, the shape a
   * nightly corpus refresh runs, fully oracled with the served ranking
   * recomputed from the raw table by DuckDB).
   */

  /** Non-empty documents as (id, text) — the ingestion loop operates on
    * raw text so admission hashes the CONTENT, then tokenizes only what
    * it keeps (tokenizer parity contract: RetrievalQueries.tokenized).
    */
  private def rawDocs(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents")
      .filter(length(trim(col("text"))) > 0)
      .select(col("doc_id").as("id"), col("text"))

  /** BM25-side tokenizer (q197/q202 parity: lower + \s+ split). The
    * near-dup admission side shingles RAW (un-lowered) tokens — each
    * side mirrors its own established oracle (q129 vs q197). */
  private def tok(df: DataFrame): DataFrame =
    df.select(col("id"),
      filter(split(lower(trim(col("text"))), "\\s+"),
        x => length(x) > 0).as("toks"))

  /** The ingestion split: RESIDENT corpus (ids ≢ 0 mod 5) and an
    * ARRIVING batch = the genuinely-new docs (ids ≡ 0 mod 5) plus two
    * PLANTED duplicate families that make the admission step do real
    * work at every SF: a re-submission of each id ≡ 0 mod 15 arrival
    * under a new id (+1e7 — a within-batch duplicate; min-id wins) and
    * a re-crawl of resident content id ≡ 1 mod 10 under new ids (+2e7
    * — rejected against the resident corpus).
    */
  private[graft] def ingestParts(s: SparkSession, dir: String)
      : (DataFrame, DataFrame) = {
    val d = rawDocs(s, dir)
    QueryFixtures.requirePlantResidue("q202", "+1e7/+2e7", d, dir)
    val resident = d.filter(col("id") % 5 =!= 0)
    val arrivals = d.filter(col("id") % 5 === 0)
      .unionByName(d.filter(col("id") % 15 === 0)
        .select((col("id") + lit(10000000L)).as("id"), col("text")))
      .unionByName(d.filter(col("id") % 10 === 1)
        .select((col("id") + lit(20000000L)).as("id"), col("text")))
    (resident, arrivals)
  }

  /** Exact-hash dedup admission (the q106/q129 incremental shape, kept
    * exact-hash here so the WHOLE loop stays SQL-expressible): one
    * representative per content hash within the batch (min id), then an
    * anti-join against the resident corpus's content hashes.
    */
  private[graft] def admit(resident: DataFrame,
      arrivals: DataFrame): DataFrame =
    arrivals
      .withColumn("__h", md5(col("text").cast("binary")))
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col("__h")).orderBy(col("id"))))
      .filter(col("__rn") === 1)
      .join(resident.select(md5(col("text").cast("binary")).as("__h"))
        .distinct(), Seq("__h"), "left_anti")
      .select(col("id"), col("text"))

  /** Build-once (per process/sfDir): save a BM25 store from the
    * RESIDENT corpus, run the arriving batch through [[admit]], and
    * append ONLY the admitted docs' postings ([[IndexStore.appendCodes]]
    * `bm25` kind). Returns the store path.
    */
  private[graft] def ingestStore(s: SparkSession, dir: String): String =
    TmpDirs.buildOnce("ingest_loop_store", dir) { store =>
      val (resident, arrivals) = ingestParts(s, dir)
      IndexStore.saveBm25(s, store,
        Retrieval.bm25Postings(tok(resident), "id", "toks"), "id")
      IndexStore.appendCodes(s, store,
        Retrieval.bm25Postings(tok(admit(resident, arrivals)),
          "id", "toks"), "id")
    }

  /** The merged post-ingestion corpus (resident ∪ admitted), tokenized —
    * what a full rebuild would index; the panel and the hard gate both
    * derive from it.
    */
  private[graft] def ingestMerged(s: SparkSession, dir: String): DataFrame = {
    val (resident, arrivals) = ingestParts(s, dir)
    tok(resident.unionByName(admit(resident, arrivals)))
  }

  /** The INGESTION LOOP end-to-end (r13 verdict item 5): arrival →
    * exact-dedup admission → BM25 index append → serve, as ONE query.
    * The served ranking is q197's contract over the post-ingestion
    * corpus (panel = merged ids ≡ 0 mod 40, < 2000 — all of which are
    * newly-INGESTED docs since arrivals are ids ≡ 0 mod 5), served from
    * the resident+appended store through the auto (dense/max-score) path.
    * FULLY ORACLED: DuckDB replays admission in SQL and recomputes the
    * whole ranking from the raw table — a green run proves
    * arrival→admit→append→serve == full rebuild. The Verify assertion
    * additionally pins served == an in-engine full-rebuild inline
    * ranking row-for-row (path diversity: store+pruned vs
    * inline+unpruned).
    */
  def q202_ingest_loop(s: SparkSession, dir: String): DataFrame = {
    val store = ingestStore(s, dir)
    val panel = ingestMerged(s, dir)
      .filter(col("id") % 40 === 0 && col("id") < 2000)
      .select(col("id").as("qid"), array_distinct(col("toks")).as("qterms"))
    Retrieval.bm25TopKFromPostingsAuto(IndexStore.loadBm25(s, store),
        "id", panel, "qid", "qterms", k = 10, excludeSelf = true,
        assumeStable = true) // store postings ARE the file-backed scan
      .select(col("query_id"), col("match_id"),
        round(col("score"), 9).as("bm25"), col("rank"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** The in-engine full-rebuild twin of [[q202_ingest_loop]] — the
    * Verify hard gate compares them row-for-row. Deliberately the
    * UNPRUNED inline path (no store, no max-score) for path diversity.
    */
  private[graft] def q202_rebuild(s: SparkSession, dir: String): DataFrame = {
    val merged = ingestMerged(s, dir)
    val panel = merged.filter(col("id") % 40 === 0 && col("id") < 2000)
      .select(col("id").as("qid"), array_distinct(col("toks")).as("qterms"))
    Retrieval.bm25TopK(merged, "id", "toks", panel, "qid", "qterms",
        k = 10, excludeSelf = true)
      .select(col("query_id"), col("match_id"),
        round(col("score"), 9).as("bm25"), col("rank"))
      .orderBy(col("query_id"), col("rank"))
  }

  // The merged post-ingestion corpus, replayed in SQL: resident docs ∪
  // admitted arrivals (within-batch min-id representative per content
  // hash, anti-joined against resident hashes). Feeds q197's CTE —
  // the oracle recomputes the SERVED ranking from the raw table.
  private val q202CorpusSql: String =
    """SELECT doc_id AS id,
      |    list_filter(regexp_split_to_array(lower(trim(text)),'\s+'),
      |                x -> length(x) > 0) AS toks
      |FROM (
      |  SELECT doc_id, text FROM documents
      |  WHERE length(trim(text)) > 0 AND doc_id % 5 <> 0
      |  UNION ALL
      |  SELECT doc_id, text FROM (
      |    SELECT doc_id, text, md5(text) AS h,
      |           row_number() OVER (PARTITION BY md5(text)
      |                              ORDER BY doc_id) AS rn
      |    FROM (
      |      SELECT doc_id, text FROM documents
      |      WHERE length(trim(text)) > 0 AND doc_id % 5 = 0
      |      UNION ALL
      |      SELECT doc_id + 10000000, text FROM documents
      |      WHERE length(trim(text)) > 0 AND doc_id % 15 = 0
      |      UNION ALL
      |      SELECT doc_id + 20000000, text FROM documents
      |      WHERE length(trim(text)) > 0 AND doc_id % 10 = 1
      |    )
      |  ) a WHERE a.rn = 1 AND NOT EXISTS (
      |    SELECT 1 FROM documents r
      |    WHERE length(trim(r.text)) > 0 AND r.doc_id % 5 <> 0
      |      AND md5(r.text) = a.h)
      |)""".stripMargin

  /* The NEAR-dup ingestion loop (r14 verdict items 3+5
   * in one composition) — three SEQUENTIAL arriving batches admitted by
   * banded MinHash near-dup against the growing corpus
   * ([[graft.operators.Dedup.nearDupAdmitLoop]]), each admitted batch's
   * postings APPENDED to a persisted BM25 store, the final ranking
   * served from the 3×-appended store. Both stages are fully ORACLED:
   * q204's DuckDB oracle replays the 3-step sequential admission with
   * EXHAUSTIVE exact shingle Jaccard (the q129 discipline — the LSH
   * gate's recall is itself under the check), and q205's oracle
   * recomputes the served ranking from the raw table through the same
   * replay + the q197 BM25 CTE. The Verify hard gate additionally pins
   * store+3-appends+pruned-served == inline-full-rebuild-unpruned
   * row-for-row (multi-batch append associativity, in-engine path
   * diversity — the k-append extension of q202's single-append gate).
   *
   * Planted families (so every admission path does real work at every
   * SF, and batch 2's admission PROVABLY sees batch 0's commits):
   *   - batch 0 carries a ' graftrev'-suffixed copy of each id ≡ 0
   *     mod 30 arrival under id+3e7 — a WITHIN-batch near-dup
   *     (appending one token keeps shingle Jaccard at (n-2)/(n-1));
   *   - batch 1 carries suffixed re-crawls of resident ids ≡ 1 mod 9
   *     under id+4e7 — near-dups of the STANDING corpus;
   *   - batch 2 carries suffixed copies of batch-0 genuine arrivals
   *     (id ≡ 0 mod 15) under id+5e7 — near-dups of docs ADMITTED two
   *     batches earlier; an engine that fails to commit batch-0
   *     admissions marks these `keep` and the oracle goes red
   *     (measured at sf0.01: 28 of 34 match a batch-0 commit).
   */

  /** Resident corpus (ids ≢ 0 mod 5) and the three sequential arriving
    * batches (genuine arrivals id%15 ∈ {0,5,10} + the planted families
    * above). */
  private[graft] def ingest2Parts(s: SparkSession, dir: String)
      : (DataFrame, Seq[DataFrame]) = {
    val d = rawDocs(s, dir)
    QueryFixtures.requirePlantResidue("q204", "+3e7/+4e7/+5e7", d, dir)
    def pert(f: DataFrame, off: Long): DataFrame =
      f.select((col("id") + lit(off)).as("id"),
        concat(col("text"), lit(" graftrev")).as("text"))
    val resident = d.filter(col("id") % 5 =!= 0)
    val b0 = d.filter(col("id") % 15 === 0)
      .unionByName(pert(d.filter(col("id") % 30 === 0), 30000000L))
    val b1 = d.filter(col("id") % 15 === 5)
      .unionByName(pert(
        d.filter(col("id") % 5 =!= 0 && col("id") % 9 === 1), 40000000L))
    val b2 = d.filter(col("id") % 15 === 10)
      .unionByName(pert(d.filter(col("id") % 15 === 0), 50000000L))
    (resident, Seq(b0, b1, b2))
  }

  /** Build-once, CROSS-PROCESS (r16: [[StableStores]], replacing the
    * per-process [[TmpDirs]] layout): run the 3-batch admission loop,
    * persist each batch's status frame to parquet, save a BM25 store
    * from the resident corpus and APPEND each admitted batch's
    * postings in arrival order. The artifact is fingerprinted against
    * `documents.parquet` (a driver regen rebuilds it — the staleness
    * the old per-process dirs side-stepped by never persisting) and a
    * SECOND process over the same corpus pays zero rebuild — at sf10
    * the loop was the heaviest catalog member (86 s), paid once per
    * sweep before this. */
  private[graft] def ingest2Dir(s: SparkSession, dir: String): String = {
    val canonical = new java.io.File(dir).getCanonicalPath
    val fp = StableStores.fingerprint(s"$canonical/documents.parquet")
    StableStores.buildOnce("ingest2", canonical, fp) { out =>
      val (resident, batches) = ingest2Parts(s, dir)
      val statuses = Dedup.nearDupAdmitLoop(resident, "id", "text",
        batches, "id", "text", threshold = 0.5)
      val store = s"$out/store"
      IndexStore.saveBm25(s, store,
        Retrieval.bm25Postings(tok(resident), "id", "toks"), "id")
      statuses.zip(batches).zipWithIndex.foreach {
        case ((st, batch), k) =>
          st.withColumn("batch", lit(k))
            .write.mode("overwrite").parquet(s"$out/status_$k.parquet")
          val admitted = batch.join(
            st.filter(col("status") === "keep").select(col("id")),
            Seq("id"))
          IndexStore.appendCodes(s, store,
            Retrieval.bm25Postings(tok(admitted), "id", "toks"), "id")
      }
    }
  }

  /** The post-loop corpus (resident ∪ all admitted), tokenized — what
    * a full rebuild would index. */
  private[graft] def ingest2Merged(s: SparkSession, dir: String)
      : DataFrame = {
    val (resident, batches) = ingest2Parts(s, dir)
    val outDir = ingest2Dir(s, dir)
    val admitted = batches.zipWithIndex.map { case (b, k) =>
      b.join(Tables.artifact(s, s"$outDir/status_$k.parquet")
        .filter(col("status") === "keep").select(col("id")), Seq("id"))
    }.reduce(_ unionByName _)
    tok(resident.unionByName(admitted))
  }

  /** Per-batch admission verdicts of the 3-batch near-dup loop —
    * FULLY ORACLED: DuckDB replays the sequential admission with
    * exhaustive exact Jaccard (resident set GROWING batch to batch). */
  def q204_neardup_ingest(s: SparkSession, dir: String): DataFrame = {
    val outDir = ingest2Dir(s, dir)
    (0 to 2).map(k => Tables.artifact(s, s"$outDir/status_$k.parquet"))
      .reduce(_ unionByName _)
      .select(col("batch"), col("id"), col("status"), col("match_id"))
      .orderBy(col("batch"), col("id"))
  }

  /** The served ranking from the 3×-appended BM25 store (q197's
    * contract over the post-loop corpus, auto dense/max-score path,
    * `assumeStable` — store postings are the file-backed scan). */
  def q205_neardup_ingest_serve(s: SparkSession, dir: String): DataFrame = {
    val outDir = ingest2Dir(s, dir)
    val panel = ingest2Merged(s, dir)
      .filter(col("id") % 40 === 0 && col("id") < 2000)
      .select(col("id").as("qid"), array_distinct(col("toks")).as("qterms"))
    Retrieval.bm25TopKFromPostingsAuto(
        IndexStore.loadBm25(s, s"$outDir/store"), "id",
        panel, "qid", "qterms", k = 10, excludeSelf = true,
        assumeStable = true)
      .select(col("query_id"), col("match_id"),
        round(col("score"), 9).as("bm25"), col("rank"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** The in-engine full-rebuild twin of [[q205_neardup_ingest_serve]]:
    * inline UNPRUNED BM25 over the merged corpus (no store, no
    * max-score) — the Verify hard gate compares them row-for-row,
    * pinning k-append == rebuild (multi-batch associativity). */
  private[graft] def q205_rebuild(s: SparkSession, dir: String): DataFrame = {
    val merged = ingest2Merged(s, dir)
    val panel = merged.filter(col("id") % 40 === 0 && col("id") < 2000)
      .select(col("id").as("qid"), array_distinct(col("toks")).as("qterms"))
    Retrieval.bm25TopK(merged, "id", "toks", panel, "qid", "qterms",
        k = 10, excludeSelf = true)
      .select(col("query_id"), col("match_id"),
        round(col("score"), 9).as("bm25"), col("rank"))
      .orderBy(col("query_id"), col("rank"))
  }

  // The 3-step sequential admission replayed in SQL: ALL exact-Jaccard
  // pairs (x = any arrival, y = anything) computed once (jp), then the
  // per-batch verdicts are pure set logic against the growing resident
  // set. MATERIALIZED hints keep DuckDB from re-executing the chain
  // per consumer (measured 45.8 -> 5.1 s at sf0.01).
  private val admissionCte: String =
    """WITH uni AS (SELECT doc_id AS id, text FROM documents
      |             WHERE length(trim(text)) > 0),
      |arr AS (
      |  SELECT id, text, 0 AS b FROM uni WHERE id % 15 = 0
      |  UNION ALL
      |  SELECT id + 30000000, text || ' graftrev', 0 FROM uni
      |  WHERE id % 30 = 0
      |  UNION ALL
      |  SELECT id, text, 1 FROM uni WHERE id % 15 = 5
      |  UNION ALL
      |  SELECT id + 40000000, text || ' graftrev', 1 FROM uni
      |    WHERE id % 5 <> 0 AND id % 9 = 1
      |  UNION ALL
      |  SELECT id, text, 2 FROM uni WHERE id % 15 = 10
      |  UNION ALL
      |  SELECT id + 50000000, text || ' graftrev', 2 FROM uni
      |  WHERE id % 15 = 0
      |),
      |allsh AS MATERIALIZED (
      |  SELECT id, sh FROM (
      |    SELECT id,
      |      list_distinct(list_transform(range(1, len(t)-1),
      |        i -> array_to_string(t[i:i+2],' '))) AS sh
      |    FROM (
      |      SELECT id, regexp_split_to_array(trim(text),'\s+') AS t
      |      FROM (SELECT id, text FROM uni WHERE id % 5 <> 0
      |            UNION ALL SELECT id, text FROM arr))
      |  ) WHERE len(sh) > 0
      |),
      |ex AS MATERIALIZED (SELECT id, unnest(sh) AS s FROM allsh),
      |n_sh AS (SELECT id, len(sh) AS n FROM allsh),
      |exa AS (SELECT e.id, e.s FROM ex e
      |        JOIN (SELECT DISTINCT id FROM arr) a2 ON a2.id = e.id),
      |jp AS MATERIALIZED (
      |  SELECT p.x, p.y FROM (
      |    SELECT a.id AS x, b.id AS y, count(*) AS inter
      |    FROM exa a JOIN ex b ON a.s = b.s AND a.id <> b.id
      |    GROUP BY 1,2) p
      |  JOIN n_sh na ON na.id = p.x
      |  JOIN n_sh nb ON nb.id = p.y
      |  WHERE round(p.inter / CAST(na.n + nb.n - p.inter AS DOUBLE), 4)
      |        >= 0.5
      |),
      |res0 AS (SELECT id FROM uni WHERE id % 5 <> 0),
      |b0 AS (SELECT id FROM arr WHERE b = 0),
      |cm0 AS (SELECT j.x AS id, min(j.y) AS m FROM jp j
      |        JOIN b0 ON b0.id = j.x JOIN res0 r ON r.id = j.y GROUP BY 1),
      |bm0 AS (SELECT j.x AS id, min(j.y) AS m FROM jp j
      |        JOIN b0 x2 ON x2.id = j.x JOIN b0 y2 ON y2.id = j.y
      |        WHERE j.y < j.x GROUP BY 1),
      |st0 AS (SELECT b0.id,
      |  CASE WHEN cm0.m IS NOT NULL THEN 'corpus_dup'
      |       WHEN bm0.m IS NOT NULL THEN 'batch_dup' ELSE 'keep' END
      |    AS status,
      |  coalesce(cm0.m, bm0.m) AS match_id
      |  FROM b0 LEFT JOIN cm0 ON cm0.id = b0.id
      |          LEFT JOIN bm0 ON bm0.id = b0.id),
      |res1 AS (SELECT id FROM res0 UNION ALL
      |         SELECT id FROM st0 WHERE status = 'keep'),
      |b1 AS (SELECT id FROM arr WHERE b = 1),
      |cm1 AS (SELECT j.x AS id, min(j.y) AS m FROM jp j
      |        JOIN b1 ON b1.id = j.x JOIN res1 r ON r.id = j.y GROUP BY 1),
      |bm1 AS (SELECT j.x AS id, min(j.y) AS m FROM jp j
      |        JOIN b1 x2 ON x2.id = j.x JOIN b1 y2 ON y2.id = j.y
      |        WHERE j.y < j.x GROUP BY 1),
      |st1 AS (SELECT b1.id,
      |  CASE WHEN cm1.m IS NOT NULL THEN 'corpus_dup'
      |       WHEN bm1.m IS NOT NULL THEN 'batch_dup' ELSE 'keep' END
      |    AS status,
      |  coalesce(cm1.m, bm1.m) AS match_id
      |  FROM b1 LEFT JOIN cm1 ON cm1.id = b1.id
      |          LEFT JOIN bm1 ON bm1.id = b1.id),
      |res2 AS (SELECT id FROM res1 UNION ALL
      |         SELECT id FROM st1 WHERE status = 'keep'),
      |b2 AS (SELECT id FROM arr WHERE b = 2),
      |cm2 AS (SELECT j.x AS id, min(j.y) AS m FROM jp j
      |        JOIN b2 ON b2.id = j.x JOIN res2 r ON r.id = j.y GROUP BY 1),
      |bm2 AS (SELECT j.x AS id, min(j.y) AS m FROM jp j
      |        JOIN b2 x2 ON x2.id = j.x JOIN b2 y2 ON y2.id = j.y
      |        WHERE j.y < j.x GROUP BY 1),
      |st2 AS (SELECT b2.id,
      |  CASE WHEN cm2.m IS NOT NULL THEN 'corpus_dup'
      |       WHEN bm2.m IS NOT NULL THEN 'batch_dup' ELSE 'keep' END
      |    AS status,
      |  coalesce(cm2.m, bm2.m) AS match_id
      |  FROM b2 LEFT JOIN cm2 ON cm2.id = b2.id
      |          LEFT JOIN bm2 ON bm2.id = b2.id)""".stripMargin

  // q205's corpus: the admission chain's final resident set with texts,
  // tokenized the BM25 way — slots into RetrievalQueries.bm25Cte as the docs
  // CTE body (nested WITH; materializedDocs required, see bm25Cte).
  private val q205CorpusSql: String =
    admissionCte +
      """,
        |res3 AS (SELECT id FROM res2 UNION ALL
        |         SELECT id FROM st2 WHERE status = 'keep'),
        |alltext AS (SELECT id, text FROM uni WHERE id % 5 <> 0
        |            UNION ALL SELECT id, text FROM arr)
        |SELECT a.id,
        |    list_filter(regexp_split_to_array(lower(trim(a.text)),'\s+'),
        |                x -> length(x) > 0) AS toks
        |FROM alltext a JOIN res3 r ON r.id = a.id""".stripMargin

  /* The near-dup admission loop served from a PERSISTED
   * signature store (r15 verdict #1 — "persist the near-dup signature
   * relation as a store artifact"). q204's loop is correct but
   * re-sketches the standing corpus once per process (86 s at sf10, the
   * heaviest catalog member); the production shape persists the
   * signature relation beside the index store, exactly like
   * [[graft.operators.IndexStore]] persists ANN codes. q206 runs the
   * SAME 3-batch admission (same arrivals, same planted families, same
   * verdict policy) through that shape:
   *
   *   1. the resident corpus is sketched ONCE and saved as an
   *      [[IndexStore]] `sig` store (geometry in the meta);
   *   2. each batch's admission loads the CURRENT store (a file-backed,
   *      column-pruned scan — batch i+1 sees batch i's appended files),
   *      sketches only the batch, band-joins, exact-verifies;
   *   3. each batch's admitted signatures are APPENDED to the store
   *      ([[Dedup.nearDupAdmitLoopFromStore]]).
   *
   * FULLY ORACLED by q204's own DuckDB CTE (the exhaustive sequential
   * exact-Jaccard replay — verdicts are store-invariant), and the 19th
   * Verify hard gate pins store-seeded == in-memory loop row-for-row at
   * every SF. The artifact is a [[StableStores]] dir: a resumed process
   * finds the store by fingerprint and pays ZERO re-sketch — the
   * resumable-pipeline contract q204's scaladoc names but didn't build.
   */

  private[graft] def sigStoreDir(s: SparkSession, dir: String): String = {
    val canonical = new java.io.File(dir).getCanonicalPath
    val fp = StableStores.fingerprint(s"$canonical/documents.parquet")
    StableStores.buildOnce("neardup_sig", canonical, fp) { out =>
      val (resident, batches) = ingest2Parts(s, dir)
      val store = s"$out/store"
      IndexStore.saveSig(s, store,
        Dedup.sigRelation(resident, "id", "text",
          shingleWords = 3, numHashes = 128),
        "id", shingleWords = 3, numHashes = 128)
      val statuses = Dedup.nearDupAdmitLoopFromStore(s, store, batches,
        "id", "text", threshold = 0.5)
      statuses.zipWithIndex.foreach { case (st, k) =>
        st.withColumn("batch", lit(k))
          .write.mode("overwrite").parquet(s"$out/status_$k.parquet")
      }
    }
  }

  /** Per-batch admission verdicts of the STORE-SEEDED 3-batch loop —
    * must equal [[q204_neardup_ingest]] exactly (same oracle
    * SQL; the Verify gate also pins the two engine paths against each
    * other).
    */
  def q206_neardup_sig_store(s: SparkSession, dir: String): DataFrame = {
    val out = sigStoreDir(s, dir)
    (0 to 2).map(k => Tables.artifact(s, s"$out/status_$k.parquet"))
      .reduce(_ unionByName _)
      .select(col("batch"), col("id"), col("status"), col("match_id"))
      .orderBy(col("batch"), col("id"))
  }

  /** q197's exact contract served from the persisted q201 store
    * through the MAX-SCORE pruned sparse path — FORCED, not
    * auto-routed (r15 verdict #5: the catalog corpora always route
    * dense because their vocabulary fits the cap after df-pruning, so
    * the pruned sparse engine path — the one a 100 TB sparse-vocab
    * corpus would serve through — sat only under bit-equality specs
    * and the PLANS.md "BM25 sparse-vocab" measurements, never under a DuckDB
    * oracle). Oracle: q197's SQL verbatim; a green row proves the
    * FP-interval pruning + exact refold reproduces the exhaustive
    * recomputation from the raw table, hash-for-hash.
    */
  def q207_bm25_maxscore_store(s: SparkSession, dir: String): DataFrame = {
    val store = bm25Store(s, dir)
    val panel = RetrievalQueries.tokenized(s, dir)
      .filter(col("id") % 40 === 0 && col("id") < 2000)
      .select(col("id").as("qid"), array_distinct(col("toks")).as("qterms"))
    graft.operators.Retrieval.bm25TopKFromPostingsMaxScore(
        IndexStore.loadBm25(s, store), "id",
        panel, "qid", "qterms", k = 10, excludeSelf = true,
        assumeStable = true) // store postings ARE the file-backed scan
      .select(col("query_id"), col("match_id"),
        round(col("score"), 9).as("bm25"), col("rank"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Two-level IVF geometry for a catalog corpus: nsup =
    * childrenPerSup = clamp(2, 64, round(n^¼)) (so nlist ≈ √n, the
    * flat scaled rule, split across two levels), probing ~1/8 of the
    * lists (kSup ≈ nsup/2, kChild ≈ childrenPerSup/4 — the flat
    * nprobe = nlist/8 fraction).
    */
  private[graft] def ivf2Geometry(n: Long): (Int, Int, Int) = {
    val side = math.max(2, math.min(64,
      math.round(math.pow(math.max(1L, n).toDouble, 0.25)).toInt))
    (side, math.max(1, math.round(side / 2.0).toInt),
      math.max(1, math.round(side / 4.0).toInt))
  }

  /** TWO-LEVEL IVF ANN served from a persisted store (r15 verdict #4's
    * serving half): the [[graft.operators.Similarity.IvfIndex2]]
    * hierarchy makes the store BUILD tractable past the flat-nlist
    * compute ceiling (assignment is O((nsup+childrenPerSup)·dim) per
    * row — the 20M×(64×64) build is measured in PLANS.md, "Round-16:
    * two-level IVF build past the inline cap"), and
    * this query runs its q195-shape serving path in-catalog: store
    * built once over the planted corpus ([[StableStores]],
    * fingerprinted on embeddings.parquet), panel multiprobes
    * kSup×kChild lists against the STORED assignment. Rows-only
    * (k-means books aren't DuckDB-reproducible); the Verify assertion
    * is the q176 contract — every planted query recovers its jittered
    * copy and every emitted cosine equals the raw recomputation.
    */
  def q208_ivf2_store_topk(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Similarity
    val base = Tables(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
    val corpus = QueryFixtures.plantedEmbeddings(base)
    val canonical = new java.io.File(dir).getCanonicalPath
    val fp = StableStores.fingerprint(s"$canonical/embeddings.parquet")
    val out = StableStores.buildOnce("ivf2", canonical, fp) { tmp =>
      val n = corpus.count()
      val (side, kSup, kChild) = ivf2Geometry(n)
      val idx = Similarity.IvfIndex2.train(corpus, "vec_id", "e",
        nsup = side, childrenPerSup = side)
      IndexStore.saveIvf2(s, s"$tmp/store", idx,
        Similarity.ivf2Assign(corpus, "vec_id", "e", idx),
        "vec_id", kSup, kChild)
    }
    val (idx, kSup, kChild, assigned) = IndexStore.loadIvf2(s, s"$out/store")
    val queries = corpus.filter(col("vec_id") % 10 === 0 &&
      col("vec_id") < 500)
    Similarity.ivf2TopK(queries, corpus, "vec_id", "e", k = 5,
        idx, assigned, kSup, kChild)
      .select(col("query_id"), col("match_id"),
        round(col("cos"), 6).as("cos"), col("rank"))
      .orderBy(col("query_id"), col("rank"))
  }

  /* q209 completes the nightly-refresh story: codebooks/hierarchy are
   * trained on the RESIDENT corpus only, the arriving batch (every 7th
   * id — the q199 split) is assigned with the LOADED frozen hierarchy
   * and appended to `codes.parquet`; serving over the appended store
   * must equal a full inline re-assignment with the same index
   * row-for-row (assignment is per-row pure given a frozen index, and
   * the store round-trip is bit-exact — the r12 loaded==trained gate).
   * Rows-only (k-means books aren't DuckDB-reproducible); the 21st
   * Verify hard gate pins append == full-rebuild at every SF.
   */

  /** Build-once (per process/sfDir): train the two-level hierarchy on
    * the RESIDENT corpus, save the store with the resident assignment,
    * then append the arriving batch assigned with the LOADED (frozen)
    * hierarchy — never a retrain, never a corpus re-assign (the q199
    * discipline for the ivf2 kind).
    */
  private[graft] def ivf2AppendStore(s: SparkSession, dir: String): String =
    TmpDirs.buildOnce("ivf2_append_store", dir) { store =>
      val (_, resident, arriving) = appendParts(s, dir)
      val n = resident.count()
      val (side, kSup, kChild) = ivf2Geometry(n)
      val idx = Similarity.IvfIndex2.train(resident, "vec_id", "e",
        nsup = side, childrenPerSup = side)
      IndexStore.saveIvf2(s, store, idx,
        Similarity.ivf2Assign(resident, "vec_id", "e", idx),
        "vec_id", kSup, kChild)
      val (loaded, _, _, _) = IndexStore.loadIvf2(s, store)
      IndexStore.appendCodes(s, store,
        Similarity.ivf2Assign(arriving, "vec_id", "e", loaded),
        "vec_id")
    }

  private def servePanel(corpus: DataFrame): DataFrame =
    corpus.filter(col("vec_id") % 10 === 0 && col("vec_id") < 500)

  /** Two-level IVF ANN over an INCREMENTALLY-MAINTAINED store: the
    * probe serves resident + appended rows alike from the stored
    * assignment. The Verify gate compares this row-for-row against
    * [[q209_rebuild]] (full inline re-assignment, same loaded index).
    */
  def q209_ivf2_append_topk(s: SparkSession, dir: String): DataFrame = {
    val (corpus, _, _) = appendParts(s, dir)
    val store = ivf2AppendStore(s, dir)
    val (idx, kSup, kChild, assigned) = IndexStore.loadIvf2(s, store)
    Similarity.ivf2TopK(servePanel(corpus), corpus, "vec_id", "e", k = 5,
        idx, assigned, kSup, kChild)
      .select(col("query_id"), col("match_id"),
        round(col("cos"), 6).as("cos"), col("rank"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** The in-engine full-rebuild twin: the SAME loaded hierarchy, the
    * whole corpus assigned inline (store ignored) — what a from-scratch
    * nightly build would serve.
    */
  private[graft] def q209_rebuild(s: SparkSession, dir: String): DataFrame = {
    val (corpus, _, _) = appendParts(s, dir)
    val store = ivf2AppendStore(s, dir)
    val (idx, kSup, kChild, _) = IndexStore.loadIvf2(s, store)
    Similarity.ivf2TopK(servePanel(corpus), corpus, "vec_id", "e", k = 5,
        idx, Similarity.ivf2Assign(corpus, "vec_id", "e", idx),
        kSup, kChild)
      .select(col("query_id"), col("match_id"),
        round(col("cos"), 6).as("cos"), col("rank"))
      .orderBy(col("query_id"), col("rank"))
  }

  // ----------------------------------------- streaming admission (q211)

  /** Build-once (per process/sfDir): run q204's 3 ingest batches
    * through [[graft.streaming.Streams.nearDupAdmitStream]] — a REAL
    * Structured Streaming query over a file source (one staged parquet
    * file per arriving batch, `processAllAvailable` between stages so
    * each batch is its own trigger) admitting against a fresh persisted
    * signature store; per-trigger verdicts land in `status/` tagged
    * with the micro-batch id. The store is per-process (the stream
    * APPENDS to it — sharing q206's cross-process artifact would
    * corrupt it).
    */
  private[graft] def admitStreamDir(s: SparkSession, dir: String): String =
    TmpDirs.buildOnce("admit_stream", dir) { root =>
      val (resident, batches) = ingest2Parts(s, dir)
      val store = s"$root/store"
      graft.operators.IndexStore.saveSig(s, store,
        graft.operators.Dedup.sigRelation(resident, "id", "text",
          shingleWords = 3, numHashes = 128),
        "id", shingleWords = 3, numHashes = 128)
      val watched = s"$root/in"
      new java.io.File(watched).mkdirs(): Unit
      val outDir = s"$root/status"
      val src = s.readStream.schema("id LONG, text STRING")
        .parquet(watched)
      val q = graft.streaming.Streams.nearDupAdmitStream(
        src, store, "id", "text", threshold = 0.5) { (df, bid) =>
        df.withColumn("batch", lit(bid.toInt))
          .write.mode("append").parquet(outDir)
      }
      try batches.foreach { b =>
        b.select(col("id"), col("text"))
          .coalesce(1).write.mode("append").parquet(watched)
        q.processAllAvailable()
      } finally q.stop()
    }

  /** The STREAMING near-dup admission loop's verdicts — FULLY ORACLED
    * by q204's DuckDB CTE verbatim (the exhaustive sequential
    * exact-Jaccard replay): a Structured Streaming micro-batch pipeline
    * over the persisted signature store must produce exactly the
    * verdicts of the sequential batch loop, including commits visible
    * across triggers (batch 2's plants match batch-0 admissions). The
    * engine's third admission path (in-memory q204, store-seeded q206,
    * streaming q211) under one oracle.
    */
  def q211_neardup_admit_stream(s: SparkSession, dir: String): DataFrame = {
    val root = admitStreamDir(s, dir)
    Tables.artifact(s, s"$root/status")
      .select(col("batch"), col("id"), col("status"), col("match_id"))
      .orderBy(col("batch"), col("id"))
  }

  /* STREAMING refresh for the model-backed index-store
   * kinds (r17 verdict item 4 — q211 proved the foreachBatch pattern
   * for the `sig` kind; the ANN/lexical stores refreshed only via batch
   * append queries q199/q201/q209). q212 drives the `ivf2` kind through
   * [[graft.streaming.Streams.ivf2AppendStream]]: a REAL file-source
   * stream delivers the arriving vectors in three staged chunks, each
   * trigger assigns its micro-batch with the LOADED frozen hierarchy
   * and appends, and serving over the streamed store must equal q209's
   * single-shot batch append row-for-row (assignment is per-row pure
   * given a frozen index, so chunking cannot change any code row — the
   * 22nd Verify hard gate pins it).
   *
   * The hierarchy is NOT retrained here: q212's store copies the frozen
   * index out of q209's store (two separately-fitted k-means models
   * differ by shuffle-arrival ulps and boundary rows flip — the
   * r17 fitCached lesson), so the gate compares two append PATHS under
   * ONE model, never two models.
   */

  /** Build-once (per process/sfDir): a fresh store seeded with the
    * resident assignment under q209's LOADED hierarchy, then the
    * arriving rows streamed in as three parquet-staged micro-batches
    * through [[graft.streaming.Streams.ivf2AppendStream]].
    */
  private[graft] def ivf2StreamStore(s: SparkSession, dir: String): String = {
    val root = TmpDirs.buildOnce("ivf2_stream_store", dir) { root =>
      val batchStore = ivf2AppendStore(s, dir)
      val (idx, kSup, kChild, _) = IndexStore.loadIvf2(s, batchStore)
      val (_, resident, arriving) = appendParts(s, dir)
      val store = s"$root/store"
      IndexStore.saveIvf2(s, store, idx,
        Similarity.ivf2Assign(resident, "vec_id", "e", idx),
        "vec_id", kSup, kChild)
      val watched = s"$root/in"
      new java.io.File(watched).mkdirs(): Unit
      val src = s.readStream.schema("vec_id LONG, e ARRAY<DOUBLE>")
        .parquet(watched)
      val q = graft.streaming.Streams.ivf2AppendStream(
        src, store, "vec_id", "e")
      // three staged chunks = three triggers; processAllAvailable
      // between stages so each chunk is its own micro-batch and
      // every append commits before the next arrives (the q211
      // staging discipline)
      try (0 until 3).foreach { k =>
        arriving.filter(pmod(col("vec_id"), lit(3)) === k)
          .select(col("vec_id"), col("e"))
          .coalesce(1).write.mode("append").parquet(watched)
        q.processAllAvailable()
      } finally q.stop()
    }
    s"$root/store"
  }

  /** Two-level IVF ANN served from the STREAM-refreshed store — must
    * equal [[q209_ivf2_append_topk]] (the single-shot batch
    * append of the same arrivals under the same frozen hierarchy)
    * row-for-row; the Verify gate compares them. Rows-only (k-means
    * books aren't DuckDB-reproducible — the q209 precedent).
    */
  def q212_ivf2_stream_topk(s: SparkSession, dir: String): DataFrame = {
    val (corpus, _, _) = appendParts(s, dir)
    val store = ivf2StreamStore(s, dir)
    val (idx, kSup, kChild, assigned) = IndexStore.loadIvf2(s, store)
    Similarity.ivf2TopK(
        corpus.filter(col("vec_id") % 10 === 0 && col("vec_id") < 500),
        corpus, "vec_id", "e", k = 5, idx, assigned, kSup, kChild)
      .select(col("query_id"), col("match_id"),
        round(col("cos"), 6).as("cos"), col("rank"))
      .orderBy(col("query_id"), col("rank"))
  }

  private val q204Oracle: String = admissionCte +
    """
      |SELECT 0 AS batch, id, status, match_id FROM st0
      |UNION ALL SELECT 1, id, status, match_id FROM st1
      |UNION ALL SELECT 2, id, status, match_id FROM st2
      |ORDER BY batch, id""".stripMargin

  val entries: Seq[Entry] = Seq(
    Entry("q187_pq_store_topk", q187_pq_store_topk, None),
    Entry("q188_ivfpq_store_topk", q188_ivfpq_store_topk, None),
    Entry("q195_ivf_store_topk", q195_ivf_store_topk, None),
    Entry("q199_pq_append_topk", q199_pq_append_topk, None),
    // q201 serves q197's exact contract from the appended store — the
    // oracle recomputes the ranking from the raw table either way
    Entry("q201_bm25_store_topk", q201_bm25_store_topk,
      Some(RetrievalQueries.q197Oracle)),
    Entry("q202_ingest_loop", q202_ingest_loop, Some(
      RetrievalQueries.bm25Cte(q202CorpusSql) +
        """
          |SELECT qid AS query_id, cid AS match_id,
          |  round(score, 9) AS bm25, r AS rank
          |FROM bm25r WHERE r <= 10 ORDER BY query_id, rank""".stripMargin)),
    Entry("q204_neardup_ingest", q204_neardup_ingest, Some(q204Oracle)),
    Entry("q205_neardup_ingest_serve", q205_neardup_ingest_serve, Some(
      RetrievalQueries.bm25Cte(q205CorpusSql, materializedDocs = true) +
        """
          |SELECT qid AS query_id, cid AS match_id,
          |  round(score, 9) AS bm25, r AS rank
          |FROM bm25r WHERE r <= 10 ORDER BY query_id, rank""".stripMargin)),
    // verdicts are store-invariant: the q204 replay IS the q206 oracle;
    // max-score is bit-equal to unpruned: q197's replay IS the q207 oracle
    Entry("q206_neardup_sig_store", q206_neardup_sig_store, Some(q204Oracle)),
    Entry("q207_bm25_maxscore_store", q207_bm25_maxscore_store,
      Some(RetrievalQueries.q197Oracle)),
    Entry("q208_ivf2_store_topk", q208_ivf2_store_topk, None),
    Entry("q209_ivf2_append_topk", q209_ivf2_append_topk, None),
    // verdicts are path-invariant: the q204 exhaustive replay IS the
    // streaming loop's oracle (same arrivals, same policy, same order)
    Entry("q211_neardup_admit_stream", q211_neardup_admit_stream,
      Some(q204Oracle)),
    Entry("q212_ivf2_stream_topk", q212_ivf2_stream_topk, None))
}
