package graft

/** Per-process scratch directories for queries that round-trip through a
  * written layout (q36 CSV round-trip, q98 partitioned parquet) and for
  * the build-once derived relations and stores ([[buildOnce]]). The
  * path is unique per (process, key) so concurrent Verify/Bench runs
  * never race on a shared directory, and a JVM shutdown hook removes
  * everything this process created — repeated runs must not accumulate
  * layouts in /tmp (the parse-bench dir in Bench.scala cleans up for the
  * same reason).
  */
object TmpDirs {

  private val registered =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  private val built = scala.collection.mutable.Set[String]()

  /** md5 prefix, not String.hashCode: two distinct keys (e.g. sf dirs)
    * colliding on a 32-bit hash would silently share a layout directory.
    */
  private[graft] def keyDigest(key: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(key.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .take(8).map(b => f"$b%02x").mkString

  def perProcess(prefix: String, key: String): String = {
    val p = new java.io.File(
      System.getProperty("java.io.tmpdir"),
      s"${prefix}_${ProcessHandle.current().pid()}_${keyDigest(key)}").getPath
    if (registered.add(p)) {
      Runtime.getRuntime.addShutdownHook(
        new Thread(() => deleteRec(new java.io.File(p))))
    }
    p
  }

  /** The shared derived relation or store `name` over the input dir
    * `dir`, built at most once per (process, name, canonical dir):
    * the first call runs `build` on an empty per-process scratch dir
    * and records its seconds under `name` in [[BuildTimes]]; every
    * later call returns the same dir without building. A build that
    * throws is not marked done, so the next call retries it from an
    * emptied dir. One reentrant lock serializes builds — a build may
    * itself call `buildOnce` for a store it derives from.
    *
    * The relation is MATERIALIZED to parquet scratch rather than held
    * as a cached/checkpointed Spark relation: the bench's between-query
    * block hygiene unpersists every RDD (a localCheckpoint reused
    * across queries would lose its blocks with no lineage to rebuild),
    * and a file is what a production pipeline does with a shared
    * derived relation at 100 TB — build once, scan many times, with
    * column pruning and predicate pushdown on every consumer. NOT a
    * cross-run cache: a fresh process rebuilds from its inputs (the
    * cross-process path is [[StableStores]]).
    *
    * Consumers read the written relation through [[Tables.artifact]],
    * so each session lists it and infers its parquet schema once; a
    * build first drops any memoized plan under its dir.
    */
  def buildOnce(name: String, dir: String)(build: String => Unit): String = {
    val canonical = new java.io.File(dir).getCanonicalPath
    val out = perProcess(s"graft_$name", canonical)
    val key = s"$name|$canonical"
    this.synchronized {
      if (!built.contains(key)) {
        Tables.forget(out)
        deleteRec(new java.io.File(out))
        val t0 = System.nanoTime()
        try build(out)
        finally BuildTimes.record(name, (System.nanoTime() - t0) / 1e9)
        built.add(key): Unit
      }
    }
    out
  }

  private[graft] def deleteRec(f: java.io.File): Unit = {
    val children = f.listFiles()
    if (children != null) children.foreach(deleteRec)
    f.delete(): Unit
  }
}
