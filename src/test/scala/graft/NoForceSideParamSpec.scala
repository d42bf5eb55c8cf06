package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source scans over src/main/scala/graft for shapes that must not come
  * back. The size dials choose their own side; specs force one only
  * through the scoped `Scale.forcingSide` hook, and an `Option[Boolean]`
  * parameter is how the old per-operator force-a-side switches looked.
  * In-place replaces of persisted trees go through `graft.Swap`, and an
  * `ATOMIC_MOVE` elsewhere is how the hand-copied swaps looked. */
class NoForceSideParamSpec extends AnyFunSuite {

  private val mainDir: Path = {
    var p = Paths.get(System.getProperty("user.dir")).toAbsolutePath
    while (p != null && !Files.isDirectory(p.resolve("src/main/scala/graft")))
      p = p.getParent
    require(p != null, "src/main/scala/graft not found above user.dir")
    p.resolve("src/main/scala/graft")
  }

  /** `file:line: text` for every line containing `needle`, in every
    * Scala source under src/main/scala/graft except `exempt`. */
  private def hitsOf(needle: String, exempt: Set[String] = Set.empty): List[String] = {
    val walk = Files.walk(mainDir)
    try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      .filterNot(f => exempt(mainDir.relativize(f).toString))
      .flatMap { f =>
        Files.readAllLines(f).asScala.zipWithIndex.collect {
          case (line, i) if line.contains(needle) =>
            s"${mainDir.relativize(f)}:${i + 1}: ${line.trim}"
        }
      }
    finally walk.close()
  }

  test("no Option[Boolean] parameter under src/main/scala/graft") {
    val hits = hitsOf("Option[Boolean]")
    assert(hits.isEmpty,
      "force a side with Scale.forcingSide, not a parameter:\n" +
        hits.mkString("\n"))
  }

  test("ATOMIC_MOVE appears under src/main/scala/graft only in graft.Swap") {
    val hits = hitsOf("ATOMIC_MOVE", exempt = Set("Swap.scala"))
    assert(hits.isEmpty,
      "replace persisted trees and files through graft.Swap:\n" +
        hits.mkString("\n"))
  }
}
