package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, IndexStore, Retrieval}

/** Round-15 batch: the NEAR-dup ingestion loop (r14 verdict items 3+5
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
object Queries25 {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables(s, dir, name)

  /** Non-empty documents as (id, text) — the same universe as q202's. */
  private def rawDocs(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .filter(length(trim(col("text"))) > 0)
      .select(col("doc_id").as("id"), col("text"))

  /** BM25-side tokenizer (q197/q202 parity: lower + \s+ split). The
    * near-dup admission side shingles RAW (un-lowered) tokens — each
    * side mirrors its own established oracle (q129 vs q197). */
  private def tok(df: DataFrame): DataFrame =
    df.select(col("id"),
      filter(split(lower(trim(col("text"))), "\\s+"),
        x => length(x) > 0).as("toks"))

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
      b.join(s.read.parquet(s"$outDir/status_$k.parquet")
        .filter(col("status") === "keep").select(col("id")), Seq("id"))
    }.reduce(_ unionByName _)
    tok(resident.unionByName(admitted))
  }

  /** Per-batch admission verdicts of the 3-batch near-dup loop —
    * FULLY ORACLED: DuckDB replays the sequential admission with
    * exhaustive exact Jaccard (resident set GROWING batch to batch). */
  def q204_neardup_ingest(s: SparkSession, dir: String): DataFrame = {
    val outDir = ingest2Dir(s, dir)
    (0 to 2).map(k => s.read.parquet(s"$outDir/status_$k.parquet"))
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

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q204_neardup_ingest" -> q204_neardup_ingest _,
    "q205_neardup_ingest_serve" -> q205_neardup_ingest_serve _)

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
  // tokenized the BM25 way — slots into Queries23.bm25Cte as the docs
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

  val oracles: Map[String, String] = Map(
    "q204_neardup_ingest" -> (admissionCte +
      """
        |SELECT 0 AS batch, id, status, match_id FROM st0
        |UNION ALL SELECT 1, id, status, match_id FROM st1
        |UNION ALL SELECT 2, id, status, match_id FROM st2
        |ORDER BY batch, id""".stripMargin),
    "q205_neardup_ingest_serve" ->
      (Queries23.bm25Cte(q205CorpusSql, materializedDocs = true) +
        """
          |SELECT qid AS query_id, cid AS match_id,
          |  round(score, 9) AS bm25, r AS rank
          |FROM bm25r WHERE r <= 10 ORDER BY query_id, rank""".stripMargin))
}
