package graft

import org.apache.spark.sql.functions._

import graft.operators.{Dedup, IndexStore, Similarity}

/** IndexStore round trips: codebooks/centroids/codes must come back
  * bit-identical, and the ANN queries must produce IDENTICAL results
  * riding a loaded store vs the in-memory trained index (the property
  * q187/q188 assert in Verify at catalog scale).
  */
class IndexStoreSpec extends SparkSpec {

  import spark.implicits._

  private def tmpDir(name: String): String = {
    val dir = java.nio.file.Files.createTempDirectory("graftspec")
    SparkSpec.cleanupAtExit(dir.toFile)
    dir.resolve(name).toString
  }

  private def fuzzCorpus(seed: Long, n: Int, dim: Int) = {
    val rnd = new java.util.SplittableRandom(seed)
    (0 until n).map { i =>
      (i.toLong, Array.fill(dim)(rnd.nextDouble() * 2 - 1))
    }.toDF("vec_id", "e")
  }

  test("PQ store round trip: codebooks bit-equal, codes relation equal, " +
    "pqTopK(loaded) == pqTopK(trained) row-for-row") {
    val corpus = fuzzCorpus(31L, 120, 16)
    val idx = Similarity.PqIndex.train(corpus, "e", m = 4, ksub = 8)
    val dir = tmpDir("pqstore")
    IndexStore.savePq(spark, dir, idx,
      Similarity.pqEncode(corpus, "vec_id", "e", idx), "vec_id")
    val (loaded, codes) = IndexStore.loadPq(spark, dir)
    assert(loaded.m == idx.m && loaded.ksub == idx.ksub &&
      loaded.dsub == idx.dsub)
    for (s <- 0 until idx.m; c <- 0 until idx.ksub)
      assert(java.util.Arrays.equals(loaded.codebooks(s)(c),
        idx.codebooks(s)(c)), s"codebook ($s,$c) drifted")
    // codes relation: equal as (id, codes) sets
    val fresh = Similarity.pqEncode(corpus, "vec_id", "e", idx)
      .collect().map(r => (r.getLong(0), r.getSeq[Int](1))).toSet
    val stored = codes.collect()
      .map(r => (r.getLong(0), r.getSeq[Int](1))).toSet
    assert(stored == fresh)
    val queries = corpus.filter(col("vec_id") % 10 === 0)
    def rows(codesOpt: Option[org.apache.spark.sql.DataFrame],
        i: Similarity.PqIndex) =
      Similarity.pqTopK(queries, corpus, "vec_id", "e", k = 3,
          index = i, codes = codesOpt)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
        .toSet
    val trained = rows(None, idx)
    val viaStore = rows(Some(codes), loaded)
    assert(trained.nonEmpty && viaStore == trained)
  }

  test("IVF-PQ store round trip: coarse + residual books + " +
    "(id, list, codes) come back exact; ivfPqTopK(loaded) == trained") {
    val corpus = fuzzCorpus(47L, 150, 16)
    val coarse = Similarity.IvfIndex.train(corpus, "e", nlist = 6)
    val pq = Similarity.trainPqResidualsCached("spec:ivfpq", corpus, "e",
      coarse, m = 4, ksub = 8)
    val enc = Similarity.ivfPqEncode(corpus, "vec_id", "e", coarse, pq)
    val dir = tmpDir("ivfpqstore")
    IndexStore.saveIvfPq(spark, dir, coarse, pq, enc, "vec_id")
    val (lc, lp, lenc) = IndexStore.loadIvfPq(spark, dir)
    assert(lc.nlist == coarse.nlist)
    for (c <- 0 until coarse.nlist)
      assert(java.util.Arrays.equals(lc.centroids(c), coarse.centroids(c)))
    for (s <- 0 until pq.m; c <- 0 until pq.ksub)
      assert(java.util.Arrays.equals(lp.codebooks(s)(c),
        pq.codebooks(s)(c)))
    val fresh = enc.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Int](2))).toSet
    val stored = lenc.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Int](2))).toSet
    assert(stored == fresh)
    val queries = corpus.filter(col("vec_id") % 10 === 0)
    def rows(encOpt: Option[org.apache.spark.sql.DataFrame],
        c: Similarity.IvfIndex, p: Similarity.PqIndex) =
      Similarity.ivfPqTopK(queries, corpus, "vec_id", "e", k = 3,
          coarse = c, pq = p, nprobe = 3, enc = encOpt)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
        .toSet
    val trained = rows(None, coarse, pq)
    val viaStore = rows(Some(lenc), lc, lp)
    assert(trained.nonEmpty && viaStore == trained)
  }

  test("appendCodes: batch encoded with the LOADED frozen books + " +
    "append == full inline encode (probe row-equal, codes bit-equal); " +
    "duplicate ids and idCol mismatches are rejected loud") {
    val corpus = fuzzCorpus(71L, 140, 16)
    val resident = corpus.filter(col("vec_id") % 5 =!= 0)
    val arriving = corpus.filter(col("vec_id") % 5 === 0)
    val idx = Similarity.PqIndex.train(resident, "e", m = 4, ksub = 8)
    val dir = tmpDir("pqappend")
    IndexStore.savePq(spark, dir, idx,
      Similarity.pqEncode(resident, "vec_id", "e", idx), "vec_id")
    val (loaded, _) = IndexStore.loadPq(spark, dir)
    val batch = Similarity.pqEncode(arriving, "vec_id", "e", loaded)
    IndexStore.appendCodes(spark, dir, batch, "vec_id")
    val (_, codes) = IndexStore.loadPq(spark, dir)
    val stored = codes.collect()
      .map(r => (r.getLong(0), r.getSeq[Int](1))).toSet
    val fullFresh = Similarity.pqEncode(corpus, "vec_id", "e", idx)
      .collect().map(r => (r.getLong(0), r.getSeq[Int](1))).toSet
    assert(stored == fullFresh) // bit-equal to a full re-encode
    val queries = corpus.filter(col("vec_id") % 10 === 0)
    def rows(codesOpt: Option[org.apache.spark.sql.DataFrame]) =
      Similarity.pqTopK(queries, corpus, "vec_id", "e", k = 3,
          index = idx, codes = codesOpt)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
        .toSet
    assert(rows(Some(codes)) == rows(None) && rows(None).nonEmpty)
    // duplicate ids rejected (the whole batch is already present)
    val dup = intercept[IllegalArgumentException] {
      IndexStore.appendCodes(spark, dir, batch, "vec_id")
    }
    assert(dup.getMessage.contains("already present"))
    // idCol mismatch rejected before any write
    val mis = intercept[IllegalArgumentException] {
      IndexStore.appendCodes(spark, dir,
        batch.withColumnRenamed("vec_id", "other_id"), "other_id")
    }
    assert(mis.getMessage.contains("id column"))
  }

  test("appendCodes on an IVF store: appended assignment == full " +
    "inline assignment; served probe row-equal") {
    val corpus = fuzzCorpus(83L, 130, 16)
    val resident = corpus.filter(col("vec_id") % 5 =!= 0)
    val arriving = corpus.filter(col("vec_id") % 5 === 0)
    val idx = Similarity.IvfIndex.train(resident, "e", nlist = 6)
    val dir = tmpDir("ivfappend")
    IndexStore.saveIvf(spark, dir, idx,
      Similarity.ivfAssign(resident, "vec_id", "e", idx), "vec_id",
      nprobe = 3)
    val (loaded, np, _) = IndexStore.loadIvf(spark, dir)
    IndexStore.appendCodes(spark, dir,
      Similarity.ivfAssign(arriving, "vec_id", "e", loaded), "vec_id")
    val (_, _, assigned) = IndexStore.loadIvf(spark, dir)
    val stored = assigned.collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSet
    val fullFresh = Similarity.ivfAssign(corpus, "vec_id", "e", idx)
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(stored == fullFresh)
    val queries = corpus.filter(col("vec_id") % 10 === 0)
    def rows(a: Option[org.apache.spark.sql.DataFrame]) =
      Similarity.ivfTopK(queries, corpus, "vec_id", "e", k = 3,
          nprobe = np, index = Some(idx), assigned = a)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
        .toSet
    assert(rows(Some(assigned)) == rows(None) && rows(None).nonEmpty)
  }

  test("BM25 store: resident save + independent batch append serves " +
    "EXACTLY the full-corpus ranking (per-doc-pure postings, stats " +
    "re-derived at serve); duplicate append rejected") {
    import graft.operators.Retrieval
    val vocab = Seq("oak", "pine", "fir", "ash", "yew")
    val rnd = new java.util.SplittableRandom(97L)
    val docs = (0L until 60L).map { id =>
      (id, Seq.fill(3 + rnd.nextInt(9))(vocab(rnd.nextInt(vocab.size))))
    }.toDF("id", "toks")
    val dir = tmpDir("bm25store")
    IndexStore.saveBm25(spark, dir,
      Retrieval.bm25Postings(docs.filter(col("id") % 4 =!= 0), "id", "toks"),
      "id")
    val batch = Retrieval.bm25Postings(
      docs.filter(col("id") % 4 === 0), "id", "toks")
    IndexStore.appendCodes(spark, dir, batch, "id")
    val queries = docs.filter(col("id") % 10 === 0)
      .select(col("id").as("qid"), array_distinct(col("toks")).as("qt"))
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .toSet
    val served = rows(Retrieval.bm25TopKFromPostings(
      IndexStore.loadBm25(spark, dir), "id", queries, "qid", "qt", k = 5))
    val inline = rows(Retrieval.bm25TopK(docs, "id", "toks",
      queries, "qid", "qt", k = 5))
    assert(inline.nonEmpty && served == inline)
    val dup = intercept[IllegalArgumentException] {
      IndexStore.appendCodes(spark, dir, batch, "id")
    }
    assert(dup.getMessage.contains("already present"))
  }

  test("appendCodes rejects a batch whose column types differ from the " +
    "store's and names both schemas") {
    val docs = Seq((1L, "the quick brown fox jumps over"),
      (2L, "a lazy dog sleeps in the sun")).toDF("id", "text")
    val dir = tmpDir("sigtypes")
    IndexStore.saveSig(spark, dir, Dedup.sigRelation(docs, "id", "text"),
      "id", 3, 128)
    val intIds = Dedup.sigRelation(
      Seq((3, "an entirely different sentence about graphs"))
        .toDF("id", "text"), "id", "text")
    val e = intercept[IllegalArgumentException] {
      IndexStore.appendCodes(spark, dir, intIds, "id")
    }
    assert(e.getMessage.contains("struct<id:int,__sh:array<bigint>") &&
      e.getMessage.contains("struct<id:bigint,__sh:array<bigint>"),
      e.getMessage)
    // nothing was appended, and a LONG-id batch still goes in
    IndexStore.appendCodes(spark, dir, intIds.select(
      col("id").cast("long").as("id"), col("__sh"), col("__sig")), "id")
    assert(IndexStore.loadSig(spark, dir)._4.select(col("id")).as[Long]
      .collect().sorted.toSeq == Seq(1L, 2L, 3L))
  }

  test("load rejects a store of the wrong kind, and meta/codebook " +
    "shape mismatches are loud") {
    val corpus = fuzzCorpus(53L, 60, 8)
    val idx = Similarity.PqIndex.train(corpus, "e", m = 2, ksub = 4)
    val dir = tmpDir("wrongkind")
    IndexStore.savePq(spark, dir, idx,
      Similarity.pqEncode(corpus, "vec_id", "e", idx), "vec_id")
    val e = intercept[Exception] { IndexStore.loadIvfPq(spark, dir) }
    assert(e.getMessage.contains("not an IVF-PQ store"))
  }

  test("IVF store round trip: centroids + (id, list) assignment + " +
    "nprobe come back exact; ivfTopK(assigned=loaded) == inline") {
    val corpus = fuzzCorpus(61L, 140, 16)
    val idx = Similarity.IvfIndex.train(corpus, "e", nlist = 7)
    val assigned = Similarity.ivfAssign(corpus, "vec_id", "e", idx)
    val dir = tmpDir("ivfstore")
    IndexStore.saveIvf(spark, dir, idx, assigned, "vec_id", nprobe = 3)
    val (li, np, la) = IndexStore.loadIvf(spark, dir)
    assert(np == 3 && li.nlist == idx.nlist)
    for (c <- 0 until idx.nlist)
      assert(java.util.Arrays.equals(li.centroids(c), idx.centroids(c)))
    val fresh = assigned.collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSet
    val stored = la.collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(stored == fresh)
    val queries = corpus.filter(col("vec_id") % 10 === 0)
    def rows(a: Option[org.apache.spark.sql.DataFrame],
        i: Similarity.IvfIndex) =
      Similarity.ivfTopK(queries, corpus, "vec_id", "e", k = 3,
          nprobe = np, index = Some(i), assigned = a)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
        .toSet
    val inline = rows(None, idx)
    val served = rows(Some(la), li)
    assert(inline.nonEmpty && served == inline)
  }
}
