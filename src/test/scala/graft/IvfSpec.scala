package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.functions.VectorExprs
import graft.operators.Similarity
import graft.streaming.Streams

class IvfSpec extends SparkSpec {

  /** The per-centroid struct-column form of [[Similarity.IvfIndex.assignK]]
    * — one `vec_dot` Column per centroid, ranked by struct sort (d, then
    * i) — kept as the kernel form's oracle.
    */
  private def assignStruct(idx: Similarity.IvfIndex, vec: Column,
      n: Int): Column = {
    val scored = idx.centroids.zipWithIndex.map { case (c, ci) =>
      val cn2 = c.map(x => x * x).sum
      struct(
        (lit(cn2) - lit(2.0) * VectorExprs.vec_dot(vec, typedlit(c.toSeq)))
          .as("d"),
        lit(ci).as("i"))
    }
    transform(slice(array_sort(array(scored.toSeq: _*)), 1, n),
      _.getField("i"))
  }

  test("IVF with nprobe == nlist is exhaustive and equals brute force") {
    val emb = Tables(spark, "/root/testdata/sf0.001", "embeddings")
    val queries = emb.filter(col("vec_id") % 25 === 0)
    def key(df: org.apache.spark.sql.DataFrame) = df
      .select("query_id", "match_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val brute = key(Similarity.bruteForceTopK(queries, emb, "vec_id", "embedding", 3))
    val ivfAll = key(Similarity.ivfTopK(queries, emb, "vec_id", "embedding", 3,
      nlist = 8, nprobe = 8))
    assert(ivfAll == brute)
  }

  test("IVF with partial probes returns valid approximate results") {
    val emb = Tables(spark, "/root/testdata/sf0.001", "embeddings")
    val queries = emb.filter(col("vec_id") % 25 === 0)
    val out = Similarity.ivfTopK(queries, emb, "vec_id", "embedding", 3,
      nlist = 8, nprobe = 2).collect()
    assert(out.nonEmpty)
    assert(out.forall(r => r.getInt(r.fieldIndex("rank")) <= 3))
    assert(out.forall(r => math.abs(r.getDouble(r.fieldIndex("cos"))) <= 1.0 + 1e-9))
  }

  test("trainDistributed: exhaustive probe over a distributed-trained " +
    "book equals brute force; book shape is sane; geometry cap moved " +
    "to 4096 with the driver-sample boundary at 512") {
    val emb = Tables(spark, "/root/testdata/sf0.001", "embeddings")
    val idx = Similarity.IvfIndex.trainDistributed(emb, "vec_id",
      "embedding", nlist = 8, iters = 4)
    assert(idx.nlist >= 1 && idx.nlist <= 8) // empty cells may shrink it
    assert(idx.centroids.forall(_.length == idx.centroids.head.length))
    val queries = emb.filter(col("vec_id") % 25 === 0)
    def key(df: org.apache.spark.sql.DataFrame) = df
      .select("query_id", "match_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    // nprobe == nlist is exhaustive regardless of who trained the book
    val all = key(Similarity.ivfTopK(queries, emb, "vec_id", "embedding",
      3, nprobe = idx.nlist, index = Some(idx)))
    val brute = key(
      Similarity.bruteForceTopK(queries, emb, "vec_id", "embedding", 3))
    assert(all == brute)
    // geometry: √n rule now runs to 4096 (distributed regime)
    assert(Similarity.scaledIvfGeometry(500000L) === ((707, 88)))
    assert(Similarity.scaledIvfGeometry(1000000L) === ((1000, 125)))
    assert(Similarity.scaledIvfGeometry(100000000L) === ((4096, 512)))
    assert(Similarity.DriverSampleNlistCap === 512)
  }

  test("topPairsLshScaled equals exact topPairs in the near-dup regime") {
    import spark.implicits._
    val rnd = new java.util.SplittableRandom(7L)
    val dim = 64
    val base = (0 until 40).map { i =>
      (i.toLong, Array.fill(dim)((rnd.nextDouble() * 2 - 1).toFloat))
    }
    // plant 10 near-dups: cos vs source ≥ 0.99 (noise ~1% of magnitude)
    val dups = (0 until 10).map { i =>
      val src = base(i)._2
      (100L + i, src.map(v => v + (rnd.nextDouble() * 0.02 - 0.01).toFloat))
    }
    val df = (base ++ dups).toDF("vec_id", "embedding")
    def key(d: org.apache.spark.sql.DataFrame) = d
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = key(Similarity.topPairs(df, "vec_id", "embedding", 10))
    // 50 vectors: the scaled geometry sits at its 7-bit × 9-band floor,
    // the hand-tuned default of the gated path
    assert(Similarity.scaledLshGeometry(df.count()) == ((7, 9)))
    val gated = key(Similarity.topPairsLshScaled(df, "vec_id", "embedding",
      10, dim))
    assert(exact == gated, s"gated missed ${exact.diff(gated)}, " +
      s"extra ${gated.diff(exact)}")
  }

  test("cosinePairsLshAuto equals exact cosinePairs in the gateable regime") {
    import spark.implicits._
    val rnd = new java.util.SplittableRandom(11L)
    val dim = 64
    val base = (0 until 40).map { i =>
      (i.toLong, Array.fill(dim)((rnd.nextDouble() * 2 - 1).toFloat))
    }
    // plant 10 near-dups at cos ≈ 0.9999 vs source; background pairs
    // stay far below the 0.9 threshold (random 64-dim |cos| ≲ 0.4)
    val dups = (0 until 10).map { i =>
      val src = base(i)._2
      (100L + i, src.map(v => v + (rnd.nextDouble() * 0.02 - 0.01).toFloat))
    }
    val df = (base ++ dups).toDF("vec_id", "embedding")
    def key(d: org.apache.spark.sql.DataFrame) = d
      .select("id_a", "id_b", "cos").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val exact = key(Similarity.cosinePairs(df, "vec_id", "embedding", 0.9))
    // the 7-bit × 9-band hand geometry, kept by the router: 50 vectors
    // sit far below its occupancy cap
    assert(!Similarity.autoLshGeometry(df.count(), 7, 9, 0.99)._3)
    val gatedDf = Similarity.cosinePairsLshAuto(df, "vec_id", "embedding",
      0.9, dim, planesPerBand = 7, bands = 9, targetCos = 0.99)
    val gated = key(gatedDf)
    assert(exact == gated, s"gated missed ${exact.diff(gated)}, " +
      s"extra ${gated.diff(exact)}")
    assert(exact.size == 10)
    // the whole point of the gate: no all-pairs loop in the plan
    val plan = gatedDf.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoop"), plan.take(600))
  }

  test("streaming dedup drops repeated keys within the watermark") {
    val dir = java.nio.file.Files.createTempDirectory("dds")
    java.nio.file.Files.writeString(dir.resolve("a.csv"),
      "k,ts\nA,2024-01-01 00:00:01\nA,2024-01-01 00:00:01\nB,2024-01-01 00:00:02\n")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("ts",
        org.apache.spark.sql.types.TimestampType)))
    val stream = Streams.csvStream(spark, dir.toString, schema)
    val out = Streams.runToMemory(
      Streams.dedupStream(stream, "ts", "1 minute", Seq("k")), "ddtest")
    assert(out.collect().map(_.getString(0)).sorted.toSeq == Seq("A", "B"))
  }

  test("assignK (kernel) == assign (struct columns) bit-for-bit: same " +
    "lists, same order, at several nlist/nprobe geometries; malformed " +
    "vectors yield null not a fabricated assignment") {
    import spark.implicits._
    val rnd = new java.util.SplittableRandom(11L)
    val dim = 16
    val vecs = (0 until 300).map { i =>
      (i.toLong, Array.fill(dim)((rnd.nextDouble() * 2 - 1).toFloat))
    }
    val df = vecs.toDF("vec_id", "embedding")
    for (nlist <- Seq(4, 8, 23, 64); nprobe <- Seq(1, 3, nlist)) {
      val idx = Similarity.IvfIndex.train(df, "embedding", nlist,
        seed = 5L)
      val both = df.select(col("vec_id"),
        assignStruct(idx, col("embedding"), nprobe).as("a"),
        idx.assignK(col("embedding"), nprobe).as("b")).collect()
      both.foreach { r =>
        assert(r.getSeq[Int](1) == r.getSeq[Int](2),
          s"nlist=$nlist nprobe=$nprobe vec=${r.getLong(0)}: " +
            s"${r.getSeq[Int](1)} vs ${r.getSeq[Int](2)}")
      }
    }
    // duplicate centroids force distance ties -> the (d, i) tie order
    // must match between the two forms
    val dup = Similarity.IvfIndex(Array(
      Array(1.0, 0.0), Array(0.0, 1.0), Array(1.0, 0.0)))
    val tiny = Seq((1L, Array(0.9f, 0.1f)), (2L, Array(0.1f, 0.9f)))
      .toDF("vec_id", "embedding")
    val t = tiny.select(assignStruct(dup, col("embedding"), 3).as("a"),
      dup.assignK(col("embedding"), 3).as("b")).collect()
    t.foreach(r => assert(r.getSeq[Int](0) == r.getSeq[Int](1)))
    // short vector: kernel form surfaces null
    val short = Seq((1L, Array(0.5f))).toDF("vec_id", "embedding")
    val sh = short.select(dup.assignK(col("embedding"), 1).as("b")).collect()
    assert(sh.head.isNullAt(0))
  }
}
