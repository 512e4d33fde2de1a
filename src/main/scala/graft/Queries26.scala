package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, IndexStore}

/** Round-16 batch: the near-dup admission loop served from a PERSISTED
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
object Queries26 {

  private[graft] def sigStoreDir(s: SparkSession, dir: String): String = {
    val canonical = new java.io.File(dir).getCanonicalPath
    val fp = StableStores.fingerprint(s"$canonical/documents.parquet")
    StableStores.buildOnce("neardup_sig", canonical, fp) { out =>
      val (resident, batches) = Queries25.ingest2Parts(s, dir)
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
    * must equal [[Queries25.q204_neardup_ingest]] exactly (same oracle
    * SQL; the Verify gate also pins the two engine paths against each
    * other).
    */
  def q206_neardup_sig_store(s: SparkSession, dir: String): DataFrame = {
    val out = sigStoreDir(s, dir)
    (0 to 2).map(k => s.read.parquet(s"$out/status_$k.parquet"))
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
    val store = Queries23.bm25Store(s, dir)
    val panel = Queries23.tokenized(s, dir)
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

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q206_neardup_sig_store" -> q206_neardup_sig_store _,
    "q207_bm25_maxscore_store" -> q207_bm25_maxscore_store _,
    "q208_ivf2_store_topk" -> q208_ivf2_store_topk _)

  // verdicts are store-invariant: the q204 replay IS the q206 oracle;
  // max-score is bit-equal to unpruned: q197's replay IS the q207 oracle
  val oracles: Map[String, String] = Map(
    "q206_neardup_sig_store" -> Queries25.oracles("q204_neardup_ingest"),
    "q207_bm25_maxscore_store" -> Queries23.oracles("q197_bm25_topk"))
}
