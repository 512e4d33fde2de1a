package graft

import org.apache.spark.sql.functions._

import graft.operators.{IndexStore, Similarity}

/** Round-18 operators: streaming refresh for the model-backed store
  * kinds ([[graft.streaming.Streams.storeAppendStream]] /
  * `ivf2AppendStream`, q212), the StableStores cross-process sweep
  * pid gate (r18 ADVICE: a live builder's private dir must survive a
  * sibling's sweep), and the CodeVersion↔store-source pin (r18 ADVICE:
  * store-writing code must not change without a conscious decision
  * about artifact invalidation).
  */
class Round28OpsSpec extends SparkSpec {
  import spark.implicits._

  // --------------------------------------------- streaming ivf2 append

  test("ivf2AppendStream: a store refreshed by streamed micro-batches " +
      "equals a single batch appendCodes of the same arrivals (same " +
      "frozen hierarchy) — codes row-identical") {
    val rng = new java.util.Random(7)
    val rows = (0L until 60L).map { id =>
      (id, Array.fill(4)(rng.nextGaussian()).toSeq)
    }
    val corpus = rows.toDF("vec_id", "e")
    val resident = corpus.filter(col("vec_id") < 40)
    val arriving = corpus.filter(col("vec_id") >= 40)
    val idx = Similarity.IvfIndex2.train(resident, "vec_id", "e",
      nsup = 2, childrenPerSup = 2)
    val root = java.nio.file.Files.createTempDirectory("graft_ivf2s")
    SparkSpec.cleanupAtExit(root.toFile)
    val streamStore = s"$root/stream"
    val batchStore = s"$root/batch"
    for (st <- Seq(streamStore, batchStore))
      IndexStore.saveIvf2(spark, st, idx,
        Similarity.ivf2Assign(resident, "vec_id", "e", idx),
        "vec_id", kSup = 1, kChild = 2)
    // batch path: one append of everything
    IndexStore.appendCodes(spark, batchStore,
      Similarity.ivf2Assign(arriving, "vec_id", "e", idx), "vec_id")
    // stream path: two staged chunks = two real micro-batch triggers
    val watched = s"$root/in"
    new java.io.File(watched).mkdirs(): Unit
    val src = spark.readStream.schema("vec_id LONG, e ARRAY<DOUBLE>")
      .parquet(watched)
    val q = graft.streaming.Streams.ivf2AppendStream(
      src, streamStore, "vec_id", "e")
    try (0 until 2).foreach { k =>
      arriving.filter(pmod(col("vec_id"), lit(2)) === k)
        .coalesce(1).write.mode("append").parquet(watched)
      q.processAllAvailable()
    } finally q.stop()
    def codes(dir: String): Seq[(Long, Int)] =
      spark.read.parquet(s"$dir/codes.parquet")
        .select(col("vec_id"), col("list"))
        .collect().map(r => (r.getLong(0), r.getInt(1))).toSeq.sorted
    val s1 = codes(streamStore)
    val s2 = codes(batchStore)
    assert(s1.size == 60 && s1 == s2,
      s"stream=${s1.size} batch=${s2.size} " +
        s"mismatches=${s1.zipAll(s2, null, null).count { case (a, b) => a != b }}")
  }

  test("ivf2AppendStream rejects re-delivered ids across triggers " +
      "(the appendCodes duplicate guard holds through the streaming " +
      "path)") {
    val rng = new java.util.Random(11)
    val rows = (0L until 20L).map { id =>
      (id, Array.fill(3)(rng.nextGaussian()).toSeq)
    }
    val corpus = rows.toDF("vec_id", "e")
    val idx = Similarity.IvfIndex2.train(corpus, "vec_id", "e",
      nsup = 1, childrenPerSup = 2)
    val root = java.nio.file.Files.createTempDirectory("graft_ivf2dup")
    SparkSpec.cleanupAtExit(root.toFile)
    val store = s"$root/store"
    IndexStore.saveIvf2(spark, store, idx,
      Similarity.ivf2Assign(corpus.filter(col("vec_id") < 10),
        "vec_id", "e", idx), "vec_id", kSup = 1, kChild = 1)
    val watched = s"$root/in"
    new java.io.File(watched).mkdirs(): Unit
    val src = spark.readStream.schema("vec_id LONG, e ARRAY<DOUBLE>")
      .parquet(watched)
    val q = graft.streaming.Streams.ivf2AppendStream(
      src, store, "vec_id", "e")
    try {
      // an arriving chunk that overlaps the resident ids must fail the
      // trigger (foreachBatch surfaces the require as a stream error)
      corpus.filter(col("vec_id") < 15)
        .coalesce(1).write.mode("append").parquet(watched)
      val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.processAllAvailable()
      }
      assert(err.getMessage.contains("already present") ||
        Option(err.getCause).exists(_.getMessage.contains("already present")))
    } finally q.stop()
    // the failed trigger must not have committed any row
    assert(spark.read.parquet(s"$store/codes.parquet").count() == 10L)
  }

  // ------------------------------------------ StableStores sweep pid gate

  test("StableStores pre-build sweep deletes dead/garbage sibling " +
      "build dirs but never a LIVE other process's (r18 ADVICE — the " +
      "cross-process incomplete-artifact race)") {
    val tmp = System.getProperty("java.io.tmpdir")
    val key = s"pidgate-${System.nanoTime()}"
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest(key.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .take(8).map(b => f"$b%02x").mkString
    val dir = new java.io.File(tmp, s"graft_stable_pidgate_$digest")
    SparkSpec.cleanupAtExit(dir)
    // pid 1 is alive on any Linux box (init) and is never this JVM
    val live = new java.io.File(s"$dir.build.1")
    val dead = new java.io.File(s"$dir.build.999999999")
    val junk = new java.io.File(s"$dir.build.notapid")
    for (f <- Seq(live, dead, junk)) {
      f.mkdirs(): Unit
      java.nio.file.Files.writeString(f.toPath.resolve("x"), "y"): Unit
      SparkSpec.cleanupAtExit(f)
    }
    val src = writeTmp("src.txt", "data")
    val fp = StableStores.fingerprint(src)
    val out = StableStores.buildOnce("pidgate", key, fp) { d =>
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(d, "artifact"), "ok"): Unit
    }
    assert(new java.io.File(out, "artifact").exists())
    assert(live.exists(),
      "sweep deleted a build dir whose pid is ALIVE — a live " +
        "cross-process builder would publish an incomplete artifact")
    assert(!dead.exists() && !junk.exists(),
      "sweep must still reclaim dead-pid and unparsable orphans")
  }

  // ------------------------------------------- CodeVersion source pin

  test("StableStores.CodeVersion is pinned to the store-writing " +
      "sources: changing IndexStore/StableStores or any buildOnce " +
      "caller without deciding on a version bump fails here (r18 " +
      "ADVICE — stale /tmp artifacts have no oracle to catch them)") {
    def md5hex(b: Array[Byte]): String =
      java.security.MessageDigest.getInstance("MD5").digest(b)
        .map(x => f"$x%02x").mkString
    val root = new java.io.File("src/main/scala/graft")
    assert(root.isDirectory, s"spec must run from the repo root")
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty[java.io.File])
          .toSeq.flatMap(walk)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    val all = walk(root)
    val fixed = Set("IndexStore.scala", "StableStores.scala")
    val files = all.filter { f =>
      fixed(f.getName) || new String(
        java.nio.file.Files.readAllBytes(f.toPath))
        .contains("StableStores.buildOnce(")
    }.sortBy(_.getPath)
    assert(files.map(_.getName).toSet.intersect(fixed) == fixed)
    val digest = md5hex(files.map { f =>
      s"${f.getPath}:${md5hex(java.nio.file.Files.readAllBytes(f.toPath))}\n"
    }.mkString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    // One pin per CodeVersion. When this assert fires you changed a
    // store-writing source: if any buildOnce build body, store layout
    // or geometry changed, BUMP StableStores.CodeVersion (stale /tmp
    // artifacts must self-invalidate) and add the new pin; for a
    // provably layout-neutral change (comments, sweep policy), update
    // the pin in place.
    val pins = Map(
      "graft-stores-v17" -> "67384cc92e9b538e04eaee284332c015")
    assert(pins.get(StableStores.CodeVersion).contains(digest),
      s"store-writing sources changed (digest $digest, files " +
        s"${files.map(_.getName).mkString(", ")}) without a " +
        "CodeVersion decision — bump StableStores.CodeVersion (layout/" +
        "geometry change) or update the pin (neutral change)")
  }
}
