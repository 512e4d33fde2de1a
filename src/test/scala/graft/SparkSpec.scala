package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Session base: every suite gets its own isolated session over the
  * one SparkContext the test JVM shares. SQL conf, temp views and
  * registered functions written by one suite are invisible to the next,
  * so no result depends on which suites ran before. The session is made
  * the active one and initialized by [[GraftSession.init]] alone —
  * kernels register per session (`functions.Kernels.call` registers in
  * `SparkSession.active`).
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = {
    val s = SparkSpec.root.newSession()
    SparkSession.setActiveSession(s)
    GraftSession.init(s)
  }

  def writeTmp(name: String, content: String): String = {
    val dir = java.nio.file.Files.createTempDirectory("graftspec")
    SparkSpec.cleanupAtExit(dir.toFile)
    val p = dir.resolve(name)
    java.nio.file.Files.writeString(p, content)
    p.toString
  }
}

object SparkSpec {
  // built once per test JVM; suites only ever see a newSession() of it
  private lazy val root: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-specs")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.codegen.cache.maxEntries",
      GraftSession.CodegenCacheEntries.toString)
    .getOrCreate()

  // every writeTmp dir is removed when the test JVM exits — a full
  // suite run creates ~150 of them otherwise
  private val dirs = java.util.concurrent.ConcurrentHashMap
    .newKeySet[java.io.File]()
  private lazy val hook: Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      dirs.forEach(deleteRec(_))
    }))
  private[graft] def cleanupAtExit(f: java.io.File): Unit = {
    hook; dirs.add(f): Unit
  }
  private def deleteRec(f: java.io.File): Unit = {
    val children = f.listFiles()
    if (children != null) children.foreach(deleteRec)
    f.delete(): Unit
  }
}
