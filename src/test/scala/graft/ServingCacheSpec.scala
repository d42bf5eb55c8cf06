package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

/** Pins the serving-artifact registry (graft.Serving): collision-proof
  * path keying on the full dataset dir, build-once semantics, and
  * rebuild when the source data is newer than the artifact (ADVICE r8:
  * the old 32-bit hashCode key could alias two dirs, and a fixture
  * regenerated mid-JVM was served stale from a first-call cache). */
class ServingCacheSpec extends SparkSpecBase {

  test("artifact paths embed the full dir and never alias distinct dirs") {
    val p1 = Serving.artifactPath("idx", "/root/testdata/sf0.01")
    val p2 = Serving.artifactPath("idx", "/root/testdata/sf0.1")
    assert(p1 != p2)
    assert(p1.contains("root_testdata_sf0.01"))
    // stable across calls (it is an on-disk cache key)
    assert(p1 == Serving.artifactPath("idx", "/root/testdata/sf0.01"))
    // same dir, different kind → different artifact
    assert(Serving.artifactPath("codes", "/root/testdata/sf0.01") != p1)
  }

  test("build stages to a temp path and a failed build leaves the old artifact intact") {
    val src = Files.createTempDirectory("graft-serving-src2")
    Files.writeString(src.resolve("part-0.parquet"), "v1")
    var stagedPath: String = null
    val p = Serving.buildOnce("spec_stage", src.toString) { bp =>
      stagedPath = bp
      Files.createDirectories(Paths.get(bp))
      Files.writeString(Paths.get(bp, "payload"), "good")
    }
    // the callback never writes the final path directly (ADVICE r9:
    // a concurrent process must not observe a half-written artifact)
    val staged = Paths.get(stagedPath)
    assert(staged != Paths.get(p) &&
      staged.getParent == Paths.get(p).getParent &&
      staged.getFileName.toString.startsWith("."),
      s"staging path $stagedPath is not a hidden sibling of $p")
    assert(Files.readString(Paths.get(p, "payload")) == "good")
    // invalidate, then fail the rebuild: the old artifact must survive
    Files.setLastModifiedTime(src.resolve("part-0.parquet"),
      java.nio.file.attribute.FileTime.fromMillis(
        Serving.newestSourceMtime(src.toString) + 2000))
    intercept[RuntimeException] {
      Serving.buildOnce("spec_stage", src.toString) { _ =>
        throw new RuntimeException("build exploded")
      }
    }
    assert(Files.readString(Paths.get(p, "payload")) == "good",
      "failed rebuild clobbered the previous artifact")
  }

  test("Swap: a throwing stage leaves the target byte-identical, no hidden sibling, and rethrows the original") {
    val base = Files.createTempDirectory("graft-swap-throw")
    val dir = base.resolve("art")
    Files.createDirectories(dir)
    Files.writeString(dir.resolve("payload"), "good")
    val file = base.resolve("LATEST")
    Files.writeString(file, "v1")
    def snapshot(): Map[String, Seq[Byte]] = {
      val s = Files.walk(base)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(f => base.relativize(f).toString -> Files.readAllBytes(f).toSeq)
        .toMap
      finally s.close()
    }
    val before = snapshot()
    val boom = new IllegalStateException("stage exploded")
    val dirThrown = intercept[IllegalStateException] {
      Swap.replaceDir(dir) { staging =>
        Files.createDirectories(staging)
        Files.writeString(staging.resolve("payload"), "half")
        throw boom
      }
    }
    val fileThrown = intercept[IllegalStateException] {
      Swap.replaceFile(file) { staging =>
        Files.writeString(staging, "v2")
        throw boom
      }
    }
    assert((dirThrown eq boom) && (fileThrown eq boom),
      "the stage's own exception, not a wrapper")
    // every file under base — the targets' bytes and the absence of any
    // staging or old sibling — is exactly as before
    assert(snapshot() == before)
  }

  test("buildOnce builds once, then rebuilds only when sources get newer") {
    val src = Files.createTempDirectory("graft-serving-src")
    val f = src.resolve("part-0.parquet")
    Files.writeString(f, "v1")
    var builds = 0
    def call(): String = Serving.buildOnce("spec_art", src.toString) { p =>
      builds += 1
      Files.createDirectories(Paths.get(p))
    }
    val p1 = call(); val p2 = call(); val p3 = call()
    assert(p1 == p2 && p2 == p3)
    assert(builds == 1, s"expected a single build, got $builds")
    // a regenerated fixture (newer mtime) must invalidate, same JVM
    Files.setLastModifiedTime(f,
      java.nio.file.attribute.FileTime.fromMillis(
        Serving.newestSourceMtime(src.toString) + 2000))
    call()
    assert(builds == 2, s"expected rebuild after source touch, got $builds")
    // and the rebuild re-stamps: further calls are cached again
    call()
    assert(builds == 2)
  }
}
