package graft

import java.nio.file.{AtomicMoveNotSupportedException, Files, Path, StandardCopyOption}

/** The one crash-safe in-place replace of a persisted directory or file:
  * serving-artifact builds ([[Serving.buildOnce]]), the erasure sweeps
  * ([[graft.operators.Forget]]) and the CDC `LATEST` pointer
  * ([[graft.streaming.StreamingOps.cdcWritePointer]]) all go through it.
  *
  * A replace writes into a hidden staging sibling `.<name>.forget_staging`
  * (dot-prefixed: Spark's file listing skips it, so a reader of the
  * parent never lists a half-written tree), then swaps by rename-aside:
  * the target moves to `.<name>.forget_old`, the staging tree moves in,
  * and only then is the old tree deleted. A reader sees the old complete
  * tree or the new complete tree; the window with no tree at all is two
  * renames wide, not a recursive delete. The sibling names are the ones
  * the erasure sweeps have always written, so a primary table stranded
  * mid-sweep by an earlier build still recovers.
  *
  * `Bronze.pruneSinkLog` keeps its own swap: it works through the Hadoop
  * `FileSystem` (the layer may not be a local path), and an interrupted
  * rewrite there is rolled back to the `.bak` copy and re-derived from
  * the files on disk, not rolled forward — a policy `BronzeSweepSpec`
  * pins. */
private[graft] object Swap {

  private val StagingSuffix = ".forget_staging"
  private val OldSuffix = ".forget_old"

  private def sibling(target: Path, suffix: String): Path =
    target.resolveSibling("." + target.getFileName + suffix)

  def stagingOf(target: Path): Path = sibling(target, StagingSuffix)
  def oldOf(target: Path): Path = sibling(target, OldSuffix)

  /** Replace the directory `target` (or create it) with the tree `stage`
    * writes at the path it is given. If `stage` throws, the target is
    * untouched, the staging tree is removed and the exception rethrown. */
  def replaceDir(target: Path)(stage: Path => Unit): Unit = {
    val staging = stagingOf(target)
    val old = oldOf(target)
    staged(staging)(stage)
    deleteTree(old)
    if (Files.exists(target)) move(target, old)
    move(staging, target)
    deleteTree(old)
  }

  /** Replace the file `target` with the file `stage` returns: either the
    * path it is given, or a file inside that path when `stage` writes a
    * directory there (a one-file Spark write). The replace is one rename
    * over the target. A Hadoop checksum sidecar (`.<name>.crc`) beside
    * the staged file moves with its content; the target's stale sidecar
    * is dropped first, since an old checksum beside new content fails
    * every later read, while reads skip verification when it is absent. */
  def replaceFile(target: Path)(stage: Path => Path): Unit = {
    val staging = stagingOf(target)
    val file = staged(staging)(stage)
    val stagedCrc = sibling(file, ".crc")
    val targetCrc = sibling(target, ".crc")
    Files.deleteIfExists(targetCrc)
    move(file, target)
    if (Files.exists(stagedCrc)) move(stagedCrc, targetCrc)
    deleteTree(staging)
  }

  /** Finish or undo every interrupted swap of `root` and of any file or
    * directory inside it. A missing target with its old tree aside means
    * the crash hit between the two renames: the staging tree is complete
    * (staging strictly precedes the first rename), so it is promoted;
    * with no staging tree the old one is moved back. A staging tree with
    * no renamed-aside original is an interrupted write or first build
    * and is dropped, never promoted; beside a present target, leftovers
    * are stale and dropped. Idempotent; touches only hidden siblings and
    * a missing target. */
  def recover(root: Path): Unit = {
    recoverOne(root)
    if (Files.exists(root)) {
      val s = Files.walk(root)
      val targets = try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.flatMap { p =>
          val n = p.getFileName.toString
          Seq(StagingSuffix, OldSuffix).collectFirst {
            case sfx if n.startsWith(".") && n.endsWith(sfx) =>
              p.resolveSibling(n.stripPrefix(".").stripSuffix(sfx))
          }
        }.toList.distinct
      } finally s.close()
      targets.foreach(recoverOne)
    }
  }

  private def recoverOne(target: Path): Unit = {
    val staging = stagingOf(target)
    val old = oldOf(target)
    if (Files.exists(target)) { deleteTree(staging); deleteTree(old) }
    else if (Files.exists(old)) {
      if (Files.exists(staging)) { move(staging, target); deleteTree(old) }
      else move(old, target)
    } else deleteTree(staging)
  }

  /** Delete a file or a directory tree; absent paths are a no-op. */
  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(f => { Files.deleteIfExists(f); () })
      finally s.close()
    }

  private def staged[A](staging: Path)(stage: Path => A): A = {
    deleteTree(staging)
    try stage(staging)
    catch {
      case e: Throwable =>
        try deleteTree(staging)
        catch { case cleanup: Throwable => e.addSuppressed(cleanup) }
        throw e
    }
  }

  // rename(2) replaces atomically; a file system without atomic moves
  // falls back to a plain move that still replaces an existing file
  private def move(from: Path, to: Path): Unit =
    try { Files.move(from, to, StandardCopyOption.ATOMIC_MOVE); () }
    catch {
      case _: AtomicMoveNotSupportedException =>
        Files.move(from, to, StandardCopyOption.REPLACE_EXISTING); ()
    }
}
