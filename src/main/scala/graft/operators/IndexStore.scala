package graft.operators

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.Similarity.{IvfIndex, PqIndex}

/** Persistence for the ANN index family — a 100 TB index must outlive
  * the job that trained it (the r11 verdict item: `trainCached` is
  * session-scoped, so every new cluster job re-trained codebooks and
  * re-encoded the corpus). Layout under a store directory:
  *
  *   - `meta.json`               — scalar geometry only (kind, m, ksub,
  *     dsub, dim, nlist). No floating-point ever rides through JSON —
  *     doubles round-trip bit-exactly through PARQUET, not text.
  *   - `pq_codebooks.parquet`    — (s, ci, centroid array<double>)
  *   - `coarse_centroids.parquet`— (ci, centroid array<double>) [ivfpq]
  *   - `codes.parquet`           — the ENCODED corpus: (id, codes) for
  *     PQ, (id, list, codes) for IVF-PQ. This is the artifact that
  *     matters at scale: the m-byte-per-vector code column is the
  *     thing you cannot afford to recompute per job over 100 TB.
  *
  * Loaded == trained is EXACT: codes are ints, centroids are parquet
  * doubles, and the reconstruction norms are re-derived from
  * (codes, centroids) with the same kernel arithmetic — so a query
  * riding a loaded index is bit-identical to the training session's
  * (spec-pinned, and q187/q188 assert it end-to-end in Verify).
  */
object IndexStore {

  private val centroidSchema = StructType(Seq(
    StructField("s", IntegerType, nullable = false),
    StructField("ci", IntegerType, nullable = false),
    StructField("centroid", ArrayType(DoubleType, containsNull = false),
      nullable = false)))

  private def writeBooks(spark: SparkSession, path: String,
      books: Array[Array[Array[Double]]]): Unit = {
    val rows = for {
      (book, s) <- books.zipWithIndex
      (c, ci) <- book.zipWithIndex
    } yield Row(s, ci, c.toSeq)
    spark.createDataFrame(
        scala.jdk.CollectionConverters.SeqHasAsJava(rows.toSeq).asJava,
        centroidSchema)
      .repartition(1).write.mode("overwrite").parquet(path)
  }

  private def readBooks(spark: SparkSession,
      path: String): Array[Array[Array[Double]]] =
    spark.read.parquet(path)
      .select(col("s"), col("ci"), col("centroid"))
      .collect()
      .groupBy(_.getInt(0)).toSeq.sortBy(_._1)
      .map { case (_, rs) =>
        rs.sortBy(_.getInt(1))
          .map(_.getSeq[Double](2).toArray)
      }.toArray

  // readMeta's regex value class — an idCol outside it would be written
  // unescaped and silently truncated on read. Reject at SAVE time so a
  // store never round-trips a name it can't re-read.
  private def requireStorableId(idCol: String): Unit =
    require(idCol.matches("[a-zA-Z0-9_\\-\\.]+"),
      s"IndexStore: idCol '$idCol' contains characters meta.json cannot " +
        "round-trip (allowed: [a-zA-Z0-9_-.]) — rename the column before saving")

  private def writeMeta(dir: String, json: String): Unit =
    Files.writeString(Paths.get(dir, "meta.json"), json): Unit

  private def readMeta(dir: String): Map[String, String] = {
    // scalars-only flat JSON — parsed with a grep-shaped regex rather
    // than a JSON library (none is on the classpath; the writer below
    // is the only producer)
    val s = Files.readString(Paths.get(dir, "meta.json"))
    "\"([a-zA-Z]+)\"\\s*:\\s*\"?([a-zA-Z0-9_\\-\\.]+)\"?".r
      .findAllMatchIn(s).map(m => m.group(1) -> m.group(2)).toMap
  }

  /** Persist a PQ index + the encoded corpus. `codes` must carry
    * (`idCol`, `codes` array<int>) — the [[Similarity.pqEncode]]
    * output.
    */
  def savePq(spark: SparkSession, dir: String, index: PqIndex,
      codes: DataFrame, idCol: String): Unit = {
    requireStorableId(idCol)
    new java.io.File(dir).mkdirs()
    writeBooks(spark, s"$dir/pq_codebooks.parquet", index.codebooks)
    codes.select(col(idCol), col("codes"))
      .write.mode("overwrite").parquet(s"$dir/codes.parquet")
    writeMeta(dir, s"""{"kind": "pq", "m": ${index.m}, """ +
      s""""ksub": ${index.ksub}, "dsub": ${index.dsub}, """ +
      s""""dim": ${index.dim}, "idCol": "$idCol"}""")
  }

  /** Load a PQ store: (index, codes relation). */
  def loadPq(spark: SparkSession, dir: String): (PqIndex, DataFrame) = {
    val meta = readMeta(dir)
    require(meta.get("kind").contains("pq"),
      s"$dir is not a PQ store (kind=${meta.get("kind")})")
    val idx = PqIndex(readBooks(spark, s"$dir/pq_codebooks.parquet"))
    require(idx.m == meta("m").toInt && idx.ksub == meta("ksub").toInt,
      s"codebook shape ${idx.m}x${idx.ksub} != meta ${meta("m")}x${meta("ksub")}")
    (idx, spark.read.parquet(s"$dir/codes.parquet"))
  }

  /** Persist a plain-IVF index: centroids + the corpus assignment
    * (`idCol`, `list`) — the [[Similarity.ivfAssign]] output. The
    * assignment is the probe job's dominant per-corpus-row cost at
    * scaled nlist (O(nlist·dim) per vector); persisting it makes
    * repeat probe jobs pay only the id-keyed join. Store the paired
    * `nprobe` too so a loaded index keeps the measured geometry.
    */
  def saveIvf(spark: SparkSession, dir: String, index: IvfIndex,
      assigned: DataFrame, idCol: String, nprobe: Int): Unit = {
    requireStorableId(idCol)
    new java.io.File(dir).mkdirs()
    writeBooks(spark, s"$dir/coarse_centroids.parquet",
      Array(index.centroids))
    assigned.select(col(idCol), col("list"))
      .write.mode("overwrite").parquet(s"$dir/codes.parquet")
    writeMeta(dir, s"""{"kind": "ivf", "nlist": ${index.nlist}, """ +
      s""""nprobe": $nprobe, "idCol": "$idCol"}""")
  }

  /** Append a NEWLY-ENCODED batch to a persisted store's codes.parquet
    * — the incremental-maintenance path. A 100 TB pipeline appends;
    * re-encoding the whole corpus per arriving batch is exactly what a
    * persisted index exists to avoid. The codebooks/centroids are
    * FROZEN by the store, so encoding only the batch with the LOADED
    * index is bit-equal to a full re-encode (encode is a per-row pure
    * function of (vector, codebooks)); q199 asserts it end-to-end.
    *
    * `batchCodes` must be the encode shape matching the store kind
    * ([[Similarity.pqEncode]] / [[Similarity.ivfAssign]] /
    * [[Similarity.ivfPqEncode]] output, produced with the LOADED
    * index). A batch whose columns differ in type from the stored
    * `codes.parquet` is rejected (a LONG-id store read back over an
    * appended INT-id file fails at scan time). Ids already present are
    * rejected — a silent duplicate
    * would double-count in every probe; the overlap probe is one
    * semi-join of the code scan against the broadcast batch ids with
    * `limit(1)`, so it short-circuits on the first hit. Gate arrivals
    * with the q129 admission shape first if dedup is the intent.
    *
    * Concurrency contract (ADVICE r13): the duplicate check and the
    * parquet append are NOT atomic across writers — the store requires
    * a SINGLE WRITER. Within one JVM the check-then-append runs under a
    * per-canonical-dir lock (two in-process appends of overlapping
    * batches serialize, so the second sees the first's commit and is
    * rejected); across processes/drivers the caller must serialize
    * appends externally (one ingestion job per store — the shape a real
    * nightly refresh runs anyway).
    */
  private val appendLocks = new java.util.concurrent.ConcurrentHashMap[
    String, Object]()

  def appendCodes(spark: SparkSession, dir: String, batchCodes: DataFrame,
      idCol: String): Unit = {
    val lock = appendLocks.computeIfAbsent(
      new java.io.File(dir).getCanonicalPath, _ => new Object)
    lock.synchronized { appendCodesLocked(spark, dir, batchCodes, idCol) }
  }

  private def appendCodesLocked(spark: SparkSession, dir: String,
      batchCodes: DataFrame, idCol: String): Unit = {
    val meta = readMeta(dir)
    require(meta.get("idCol").contains(idCol),
      s"appendCodes: store id column '${meta.getOrElse("idCol", "?")}' " +
        s"!= batch id column '$idCol'")
    val cols = meta.getOrElse("kind", "?") match {
      case "pq"    => Seq(col(idCol), col("codes"))
      case "ivf"   => Seq(col(idCol), col("list"))
      case "ivfpq" => Seq(col(idCol), col("list"), col("codes"))
      case "bm25"  => Seq(col(idCol), col("dl"), col("term"), col("tf"))
      case "sig"   => Seq(col(idCol), col("__sh"), col("__sig"))
      case "ivf2"  => Seq(col(idCol), col("list"))
      case other   => sys.error(s"appendCodes: unknown store kind '$other' in $dir")
    }
    val codes = spark.read.parquet(s"$dir/codes.parquet")
    val batch = batchCodes.select(cols: _*)
    // types compared without nullability: a parquet read makes every
    // column nullable
    val (stored, arriving) = (codes.select(cols: _*).schema, batch.schema)
    require(stored.map(_.dataType.catalogString) ==
        arriving.map(_.dataType.catalogString),
      s"appendCodes: batch columns ${arriving.catalogString} differ in " +
        s"type from $dir/codes.parquet ${stored.catalogString}")
    // distinct: bm25 postings carry many rows per id — the guard only
    // needs the id set on the broadcast side
    val dup = codes
      .join(broadcast(batch.select(col(idCol)).distinct()),
        Seq(idCol), "left_semi")
      .limit(1).count()
    require(dup == 0L,
      s"appendCodes: batch contains ids already present in $dir — " +
        "dedup/admit the batch (q129 shape) before appending")
    batch.write.mode("append").parquet(s"$dir/codes.parquet")
  }

  /** Load an IVF store: (index, nprobe, assignment relation). */
  def loadIvf(spark: SparkSession,
      dir: String): (IvfIndex, Int, DataFrame) = {
    val meta = readMeta(dir)
    require(meta.get("kind").contains("ivf"),
      s"$dir is not an IVF store (kind=${meta.get("kind")})")
    val idx = IvfIndex(
      readBooks(spark, s"$dir/coarse_centroids.parquet").head)
    require(idx.nlist == meta("nlist").toInt,
      s"centroid count ${idx.nlist} != meta ${meta("nlist")}")
    (idx, meta("nprobe").toInt, spark.read.parquet(s"$dir/codes.parquet"))
  }

  /** Persist a BM25 lexical index: the per-document posting relation
    * (`idCol`, dl, term, tf) — the [[Retrieval.bm25Postings]] output.
    * Postings are the ONLY stored artifact: the corpus-global
    * statistics (N, totdl, df) are re-derived at serve time from
    * column-pruned scans of this file
    * ([[Retrieval.bm25TopKFromPostings]]), so the store stays
    * single-artifact-consistent under [[appendCodes]] — an appended
    * batch updates scores EXACTLY as a full rebuild would (tf/dl are
    * per-doc pure; N/totdl/df are integer sufficient stats that merge
    * by construction). A multi-file store with materialized df would
    * serve loads cheaper but needs a manifest to stay consistent
    * across a failed append — the production refinement, not taken
    * here.
    */
  def saveBm25(spark: SparkSession, dir: String, postings: DataFrame,
      idCol: String): Unit = {
    requireStorableId(idCol)
    new java.io.File(dir).mkdirs()
    postings.select(col(idCol), col("dl"), col("term"), col("tf"))
      .write.mode("overwrite").parquet(s"$dir/codes.parquet")
    writeMeta(dir, s"""{"kind": "bm25", "idCol": "$idCol"}""")
  }

  /** Load a BM25 store: the posting relation. */
  def loadBm25(spark: SparkSession, dir: String): DataFrame = {
    val meta = readMeta(dir)
    require(meta.get("kind").contains("bm25"),
      s"$dir is not a BM25 store (kind=${meta.get("kind")})")
    spark.read.parquet(s"$dir/codes.parquet")
  }

  /** Persist a TWO-LEVEL IVF index ([[Similarity.IvfIndex2]]): sup
    * centroids, child books (one book row-group per supercluster) and
    * the corpus assignment (`idCol`, `list` — the [[Similarity
    * .ivf2Assign]] output, global list ids `s·childrenPerSup + c`).
    * The stored (kSup, kChild) is the measured serving geometry, the
    * [[saveIvf]] nprobe convention.
    */
  def saveIvf2(spark: SparkSession, dir: String,
      index: Similarity.IvfIndex2, assigned: DataFrame, idCol: String,
      kSup: Int, kChild: Int): Unit = {
    requireStorableId(idCol)
    new java.io.File(dir).mkdirs()
    writeBooks(spark, s"$dir/coarse_centroids.parquet",
      Array(index.sup))
    writeBooks(spark, s"$dir/child_centroids.parquet",
      Array.tabulate(index.nsup)(s => index.children.slice(
        s * index.childrenPerSup, (s + 1) * index.childrenPerSup)))
    assigned.select(col(idCol), col("list"))
      .write.mode("overwrite").parquet(s"$dir/codes.parquet")
    writeMeta(dir, s"""{"kind": "ivf2", "nsup": ${index.nsup}, """ +
      s""""childrenPerSup": ${index.childrenPerSup}, """ +
      s""""kSup": $kSup, "kChild": $kChild, "idCol": "$idCol"}""")
  }

  /** Load a two-level IVF store: (index, kSup, kChild, assignment). */
  def loadIvf2(spark: SparkSession,
      dir: String): (Similarity.IvfIndex2, Int, Int, DataFrame) = {
    val meta = readMeta(dir)
    require(meta.get("kind").contains("ivf2"),
      s"$dir is not an ivf2 store (kind=${meta.get("kind")})")
    val sup = readBooks(spark, s"$dir/coarse_centroids.parquet").head
    val childBooks = readBooks(spark, s"$dir/child_centroids.parquet")
    val idx = Similarity.IvfIndex2(sup, childBooks.flatten)
    require(idx.nsup == meta("nsup").toInt &&
        idx.childrenPerSup == meta("childrenPerSup").toInt,
      s"ivf2 shape ${idx.nsup}x${idx.childrenPerSup} != meta " +
        s"${meta("nsup")}x${meta("childrenPerSup")}")
    (idx, meta("kSup").toInt, meta("kChild").toInt,
      spark.read.parquet(s"$dir/codes.parquet"))
  }

  /** Persist a MinHash SIGNATURE relation — the near-dup admission
    * loop's standing-corpus artifact ([[Dedup.sigRelation]] output:
    * `idCol`, `__sh` sorted distinct shingle hashes, `__sig` MinHash
    * signature). At 100 TB the corpus sketch IS the dominant admission
    * cost; persisting it turns the loop resumable — a new ingestion
    * job loads the store, sketches only its arriving batches, and
    * APPENDS admitted signatures through [[appendCodes]]
    * ([[Dedup.nearDupAdmitLoopFromStore]] is the consumer). The sketch
    * GEOMETRY (shingleWords, numHashes) rides the meta so every later
    * batch provably sketches with the same parameters as the persisted
    * corpus — mixed-geometry signatures would silently band-join
    * garbage.
    */
  def saveSig(spark: SparkSession, dir: String, sigs: DataFrame,
      idCol: String, shingleWords: Int, numHashes: Int): Unit = {
    requireStorableId(idCol)
    new java.io.File(dir).mkdirs()
    sigs.select(col(idCol), col("__sh"), col("__sig"))
      .write.mode("overwrite").parquet(s"$dir/codes.parquet")
    writeMeta(dir, s"""{"kind": "sig", "shingleWords": $shingleWords, """ +
      s""""numHashes": $numHashes, "idCol": "$idCol"}""")
  }

  /** Load a signature store: (shingleWords, numHashes, idCol, sigs).
    * The relation is the parquet scan — re-opening the store after an
    * append sees the appended files.
    */
  def loadSig(spark: SparkSession,
      dir: String): (Int, Int, String, DataFrame) = {
    val meta = readMeta(dir)
    require(meta.get("kind").contains("sig"),
      s"$dir is not a sig store (kind=${meta.get("kind")})")
    (meta("shingleWords").toInt, meta("numHashes").toInt, meta("idCol"),
      spark.read.parquet(s"$dir/codes.parquet"))
  }

  /** Persist an IVF-PQ composite: coarse centroids, residual PQ books,
    * and the encoded corpus (`idCol`, `list`, `codes`) — the
    * [[Similarity.ivfPqEncode]] output.
    */
  def saveIvfPq(spark: SparkSession, dir: String, coarse: IvfIndex,
      pq: PqIndex, enc: DataFrame, idCol: String): Unit = {
    requireStorableId(idCol)
    new java.io.File(dir).mkdirs()
    writeBooks(spark, s"$dir/pq_codebooks.parquet", pq.codebooks)
    writeBooks(spark, s"$dir/coarse_centroids.parquet",
      Array(coarse.centroids))
    enc.select(col(idCol), col("list"), col("codes"))
      .write.mode("overwrite").parquet(s"$dir/codes.parquet")
    writeMeta(dir, s"""{"kind": "ivfpq", "m": ${pq.m}, """ +
      s""""ksub": ${pq.ksub}, "dsub": ${pq.dsub}, "dim": ${pq.dim}, """ +
      s""""nlist": ${coarse.nlist}, "idCol": "$idCol"}""")
  }

  /** Load an IVF-PQ store: (coarse, pq, enc relation). */
  def loadIvfPq(spark: SparkSession,
      dir: String): (IvfIndex, PqIndex, DataFrame) = {
    val meta = readMeta(dir)
    require(meta.get("kind").contains("ivfpq"),
      s"$dir is not an IVF-PQ store (kind=${meta.get("kind")})")
    val coarse = IvfIndex(
      readBooks(spark, s"$dir/coarse_centroids.parquet").head)
    val pq = PqIndex(readBooks(spark, s"$dir/pq_codebooks.parquet"))
    require(coarse.nlist == meta("nlist").toInt,
      s"coarse nlist ${coarse.nlist} != meta ${meta("nlist")}")
    require(pq.m == meta("m").toInt && pq.ksub == meta("ksub").toInt,
      s"codebook shape ${pq.m}x${pq.ksub} != meta ${meta("m")}x${meta("ksub")}")
    (coarse, pq, spark.read.parquet(s"$dir/codes.parquet"))
  }
}
