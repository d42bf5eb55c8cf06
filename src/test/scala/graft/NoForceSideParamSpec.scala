package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The size dials choose their own side; specs force one only through
  * the scoped `Scale.forcingSide` hook. An `Option[Boolean]` parameter
  * under src/main is how the old per-operator force-a-side switches
  * looked, so this scan fails the build if one comes back. */
class NoForceSideParamSpec extends AnyFunSuite {

  private val mainDir: Path = {
    var p = Paths.get(System.getProperty("user.dir")).toAbsolutePath
    while (p != null && !Files.isDirectory(p.resolve("src/main/scala/graft")))
      p = p.getParent
    require(p != null, "src/main/scala/graft not found above user.dir")
    p.resolve("src/main/scala/graft")
  }

  test("no Option[Boolean] parameter under src/main/scala/graft") {
    val walk = Files.walk(mainDir)
    val hits =
      try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
        .flatMap { f =>
          Files.readAllLines(f).asScala.zipWithIndex.collect {
            case (line, i) if line.contains("Option[Boolean]") =>
              s"${mainDir.relativize(f)}:${i + 1}: ${line.trim}"
          }
        }
      finally walk.close()
    assert(hits.isEmpty,
      "force a side with Scale.forcingSide, not a parameter:\n" +
        hits.mkString("\n"))
  }
}
