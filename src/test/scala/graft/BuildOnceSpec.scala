package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** [[TmpDirs.buildOnce]] with a marker-file build body — no Spark job. */
class BuildOnceSpec extends AnyFunSuite {

  private def freshDir(): java.io.File = {
    val d = Files.createTempDirectory("graft_buildonce").toFile
    SparkSpec.cleanupAtExit(d)
    d
  }

  private def rows(name: String): Seq[(String, Double)] =
    BuildTimes.drain().filter(_._1 == name)

  private def marker(out: String): Unit = {
    Files.createDirectories(Paths.get(out))
    Files.writeString(Paths.get(out, "_marker"), "built"): Unit
  }

  test("builds once per (name, canonical dir), across spellings of a dir") {
    val x = freshDir()
    val name = s"spec_once_${System.nanoTime()}"
    BuildTimes.drain()
    var builds = 0
    val out = TmpDirs.buildOnce(name, x.getPath) { o => builds += 1; marker(o) }
    assert(builds == 1)
    assert(Files.readString(Paths.get(out, "_marker")) == "built")
    assert(rows(name).size == 1, "one BuildTimes row for the real build")
    val again = TmpDirs.buildOnce(name, s"${x.getPath}/../${x.getName}") { o =>
      builds += 1; marker(o)
    }
    assert(again == out && builds == 1, "x/../x is the same dir: no rebuild")
    assert(rows(name).isEmpty, "a hit records no BuildTimes row")
    // another name over the same dir, and the same name over another dir,
    // are separate builds with separate scratch dirs
    val other = TmpDirs.buildOnce(s"${name}_b", x.getPath) { o =>
      builds += 1; marker(o)
    }
    val y = TmpDirs.buildOnce(name, freshDir().getPath) { o =>
      builds += 1; marker(o)
    }
    assert(builds == 3 && Set(out, other, y).size == 3)
    assert(rows(name).size == 1 && BuildTimes.drain().isEmpty)
  }

  test("a throwing build is retried on the next call, from an empty dir") {
    val x = freshDir().getPath
    val name = s"spec_retry_${System.nanoTime()}"
    BuildTimes.drain()
    var attempts = 0
    val failed = intercept[IllegalStateException] {
      TmpDirs.buildOnce(name, x) { o =>
        attempts += 1
        Files.createDirectories(Paths.get(o))
        Files.writeString(Paths.get(o, "_partial"), "x")
        throw new IllegalStateException("build failed")
      }
    }
    assert(failed.getMessage == "build failed" && attempts == 1)
    val out = TmpDirs.buildOnce(name, x) { o =>
      attempts += 1
      assert(!Files.exists(Paths.get(o, "_partial")),
        "a retry must start from an emptied scratch dir")
      marker(o)
    }
    assert(attempts == 2 && Files.exists(Paths.get(out, "_marker")))
    TmpDirs.buildOnce(name, x)(_ => attempts += 1)
    assert(attempts == 2, "a successful build is never rerun")
    assert(rows(name).size == 2, "one row per build that actually ran")
  }

  test("a build may call buildOnce for another store (reentrant lock)") {
    val x = freshDir().getPath
    val inner = s"spec_inner_${System.nanoTime()}"
    val outer = s"spec_outer_${System.nanoTime()}"
    val out = TmpDirs.buildOnce(outer, x) { o =>
      marker(TmpDirs.buildOnce(inner, x)(marker))
      marker(o)
    }
    assert(Files.exists(Paths.get(out, "_marker")))
    assert(Files.exists(Paths.get(TmpDirs.buildOnce(inner, x)(_ =>
      fail("inner store rebuilt")), "_marker")))
  }
}
