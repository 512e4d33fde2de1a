package graft

/** Cross-process build-once artifact directories — the persistence
  * layer under the store-backed catalog queries (q204/q205 ingest
  * artifacts, the q206 signature store). Unlike [[TmpDirs]]
  * (per-process, deleted by a shutdown hook), these SURVIVE the
  * process: a second Verify/Bench/sweep process over the same inputs
  * pays zero rebuild — the resumable-pipeline contract (r15 verdict
  * #1: "a resumed process pays zero corpus re-sketch").
  *
  * Staleness (the driver regenerates testdata between rounds): every
  * artifact records a FINGERPRINT of its source files (name + size +
  * mtime, recursively) in a `_FINGERPRINT` marker written into the
  * build dir BEFORE publication; a missing or mismatched marker means
  * rebuild. Publication is ATOMIC — the build runs in a private
  * sibling (`<dir>.build.<pid>`) and is POSIX-renamed into place — so
  * a crashed build can never publish a partial store, and two racing
  * processes converge on one winner (the loser validates the winner's
  * fingerprint and discards its own build). A rebuild deletes the
  * stale dir first, so exactly one artifact per (name, key) ever
  * exists and regens can't accumulate orphans in /tmp (the q93
  * disk-full lesson).
  */
object StableStores {

  // (dir, fingerprint) pairs already validated this process — skips
  // the marker read on every query call after the first
  private val ready =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Build-code version token folded into every fingerprint: the
    * source-data digest alone can't see a CHANGED BUILD PATH (sketch
    * geometry, store layout, admission policy), so without this a
    * /tmp artifact built by older code would be silently served until
    * /tmp is cleared — Verify's oracle catches verdict drift for the
    * oracled stores, but rows-only stores (q208) and Bench have no
    * oracle. Bump whenever any [[buildOnce]] build body or the
    * geometry feeding it changes.
    */
  val CodeVersion: String = "graft-stores-v17"

  /** Fingerprint of the source files an artifact derives from: md5
    * over [[CodeVersion]] + the sorted recursive (name, length, mtime)
    * listing. A MISSING source path fails loudly — silently hashing
    * nothing would make a typo'd/moved source validate forever.
    */
  def fingerprint(paths: String*): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    md.update(s"$CodeVersion\n".getBytes(
      java.nio.charset.StandardCharsets.UTF_8))
    def add(f: java.io.File): Unit =
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty[java.io.File])
          .sortBy(_.getName).foreach(add)
      else
        md.update(s"${f.getName}:${f.length}:${f.lastModified}\n".getBytes(
          java.nio.charset.StandardCharsets.UTF_8))
    paths.foreach { p =>
      val f = new java.io.File(p)
      require(f.exists(),
        s"StableStores.fingerprint: source path does not exist: $p " +
          "(a missing source must fail the build, not validate it)")
      add(f)
    }
    md.digest().map(b => f"$b%02x").mkString
  }

  /** Return the published artifact dir for (name, key), building it
    * with `build` (handed the PRIVATE dir to populate) if absent or
    * stale. Serialized process-wide: builds are Spark jobs and the
    * callers are the single-threaded Verify/Bench mains.
    */
  def buildOnce(name: String, key: String, fp: String)(
      build: String => Unit): String = {
    val dir = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"graft_stable_${name}_${TmpDirs.keyDigest(key)}").getPath
    if (ready.contains(s"$dir|$fp")) return dir
    this.synchronized {
      if (ready.contains(s"$dir|$fp")) return dir
      if (!valid(dir, fp)) {
        val t0 = System.nanoTime()
        // sweep private build dirs abandoned by CRASHED processes (their
        // shutdown never ran; store-sized parquet orphans are the q93
        // disk-full class). The lock above is JVM-local while builds are
        // cross-process (the FileAlreadyExistsException race below is
        // real), so a sibling dir may belong to a LIVE builder in
        // another process — deleting it mid-build would let that
        // process publish an incomplete artifact that validates forever
        // (the fingerprint covers sources, not artifact contents).
        // Only dirs whose embedded pid is provably dead are swept; the
        // own-pid dir is always reclaimed (no live twin of this JVM).
        val parent = new java.io.File(dir).getParentFile
        val base = new java.io.File(dir).getName + ".build."
        val selfPid = ProcessHandle.current().pid()
        Option(parent.listFiles()).getOrElse(Array.empty[java.io.File])
          .filter { f =>
            f.getName.startsWith(base) && {
              val pid = f.getName.stripPrefix(base).toLongOption
              pid.contains(selfPid) || !pid.exists(p =>
                ProcessHandle.of(p).map[java.lang.Boolean](_.isAlive)
                  .orElse(java.lang.Boolean.FALSE).booleanValue())
            }
          }.foreach(TmpDirs.deleteRec)
        val tmp = new java.io.File(s"$dir.build.${
          ProcessHandle.current().pid()}")
        tmp.mkdirs(): Unit
        try {
          build(tmp.getPath)
          java.nio.file.Files.writeString(
            tmp.toPath.resolve("_FINGERPRINT"), fp): Unit
          Tables.forget(dir)
          TmpDirs.deleteRec(new java.io.File(dir))
          try
            java.nio.file.Files.move(tmp.toPath,
              java.nio.file.Paths.get(dir)): Unit
          catch {
            case _: java.nio.file.FileAlreadyExistsException |
                _: java.nio.file.DirectoryNotEmptyException =>
              // another process published between our delete and move —
              // accept its artifact iff it matches our inputs
              require(valid(dir, fp),
                s"concurrent publication of $dir has a different " +
                  "fingerprint — inputs changed mid-build; rerun")
          }
        } finally TmpDirs.deleteRec(tmp) // no-op after a successful rename
        BuildTimes.record(name, (System.nanoTime() - t0) / 1e9)
      }
      ready.add(s"$dir|$fp"): Unit
      dir
    }
  }

  private def valid(dir: String, fp: String): Boolean =
    try java.nio.file.Files.readString(
      java.nio.file.Paths.get(dir, "_FINGERPRINT")) == fp
    catch { case scala.util.control.NonFatal(_) => false }
}

/** Registry of one-time artifact-build seconds, drained by
  * [[Bench]] after each query (r15 verdict #6): a store-backed query
  * pays its build inside its first timed run (q204: 10.2 s cold vs
  * ~1 s steady at sf0.1), which masks genuine cold regressions — the
  * detail artifact now carries a `queries_build` row attributing the
  * build seconds to the query that triggered it.
  */
object BuildTimes {
  private val rows =
    new java.util.concurrent.ConcurrentLinkedQueue[(String, Double)]()

  def record(name: String, seconds: Double): Unit =
    rows.add((name, seconds)): Unit

  /** Remove and return everything recorded since the last drain. */
  def drain(): Seq[(String, Double)] = {
    val out = scala.collection.mutable.ArrayBuffer[(String, Double)]()
    var e = rows.poll()
    while (e != null) { out += e; e = rows.poll() }
    out.toSeq
  }
}
