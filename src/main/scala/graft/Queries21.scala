package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{IndexStore, Similarity}

/** Round-21 batch: the PERSISTED-index ANN pair — q176/q177's exact
  * contracts served from an [[graft.operators.IndexStore]] round trip
  * (train → save → LOAD → query off the loaded artifacts), the "index
  * outlives the job" property a 100 TB vector store needs. Verify
  * asserts each equals its in-memory twin row-for-row.
  */
object Queries21 {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables(s, dir, name)

  private def plantedCorpus(s: SparkSession, dir: String)
      : (DataFrame, DataFrame) = {
    val base = t(s, dir, "embeddings")
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

  /** The COMPOSED curation gate a real pipeline runs end-to-end (r11
    * verdict item 7 — each piece was verified alone, the composition
    * was not): train [[graft.operators.Classify.logisticFit]] on the
    * planted quality label (q178's features), score the corpus, walk
    * the [[graft.operators.Classify.liftTable]] deciles from the top
    * until cumulative capture reaches the 0.8 target, admit everything
    * scoring at or above that bucket, and report the yield funnel —
    * corpus → scored → admitted → captured positives, plus the chosen
    * cutoff bucket with its capture. All stage counts are exact longs
    * off ONE checkpointed |docs|-row scored relation; the walk touches
    * only the ≤10-row lift table. Rows-only (IRLS model); the Verify
    * assertion recomputes cutoff + funnel driver-side from the
    * collected scored rows and demands exact count equality, plus the
    * capture-target and gate-actually-gates invariants.
    */
  def q189_curation_gate(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Classify
    val feats = Queries18.docFeatures(s, dir).localCheckpoint()
    val model = Queries18.fitCached(s, dir) // fit-once: the assertion
    // recomputes from the SAME model object, so exact-count parity is
    // sound (an independent refit can drift ~1 ulp per coefficient)
    val scored = feats
      .select(model.predictProba(col("features")).as("score"), col("label"))
      // defense-in-depth: least(floor(null·10), 9) would fabricate a
      // null score into the TOP decile (least() skips nulls — the q181
      // lesson); scores are never null today, but the gate admits by
      // bucket, so a silent null would land inside the admitted set
      .filter(col("score").isNotNull)
      .localCheckpoint() // |docs|-row; feeds lift, totals AND the gate
    val bucket = least(floor(col("score") * 10).cast("long"), lit(9L))
    val lift = Classify.liftTable(scored, bucket, col("label"))
    // cutoff = FIRST decile (from the top) whose cumulative capture
    // reaches the target; admission = score bucket >= cutoff
    val cut = lift.filter(col("cum_capture") >= 0.8)
      .orderBy(col("bucket").desc).limit(1)
      .select(col("bucket").as("__b"), col("cum_capture").as("__cap"))
    val raw = t(s, dir, "documents").agg(count(lit(1)).as("__raw"))
    val tot = scored.agg(count(lit(1)).as("__n"),
      sum(col("label")).cast("long").as("__p"))
    val adm = scored.crossJoin(broadcast(cut))
      .filter(bucket >= col("__b"))
      .agg(count(lit(1)).as("__na"), sum(col("label")).cast("long").as("__pa"))
    raw.crossJoin(tot).crossJoin(broadcast(cut)).crossJoin(adm)
      .select(explode(array(
        struct(lit("s1_corpus").as("stage"), col("__raw").as("n"),
          lit(1.0).as("pct")),
        struct(lit("s2_scored").as("stage"), col("__n").as("n"),
          round(col("__n").cast("double") / col("__raw").cast("double"), 6)
            .as("pct")),
        struct(lit("s3_admitted").as("stage"), col("__na").as("n"),
          round(col("__na").cast("double") / col("__n").cast("double"), 6)
            .as("pct")),
        struct(lit("s4_captured_pos").as("stage"), col("__pa").as("n"),
          round(col("__pa").cast("double") / col("__p").cast("double"), 6)
            .as("pct")),
        struct(lit("s5_cutoff_bucket").as("stage"), col("__b").as("n"),
          round(col("__cap"), 6).as("pct")))).as("__e"))
      .select(col("__e.stage").as("stage"), col("__e.n").as("n"),
        col("__e.pct").as("pct"))
      .orderBy(col("stage"))
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
    val emb = t(s, dir, "embeddings")
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

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q187_pq_store_topk" -> q187_pq_store_topk _,
    "q188_ivfpq_store_topk" -> q188_ivfpq_store_topk _,
    "q189_curation_gate" -> q189_curation_gate _,
    "q195_ivf_store_topk" -> q195_ivf_store_topk _)

  val oracles: Map[String, String] = Map.empty
}
