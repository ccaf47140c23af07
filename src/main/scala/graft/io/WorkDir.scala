package graft.io

import java.io.IOException
import java.nio.file.{FileVisitResult, Files, Path, SimpleFileVisitor}
import java.nio.file.attribute.BasicFileAttributes
import java.util.concurrent.ConcurrentLinkedQueue

/** Work directories for query closures (sinks, layouts, checkpoints): made
  * under `java.io.tmpdir`, deleted when the JVM exits, so repeated Bench and
  * Verify runs leave nothing behind. The delete is an in-process walk, not
  * an `rm -rf` fork, and does not follow links.
  */
object WorkDir {

  private val dirs = new ConcurrentLinkedQueue[Path]

  Runtime.getRuntime.addShutdownHook(new Thread(() =>
    dirs.forEach(d => delete(d)), "graft-workdir-cleanup"))

  /** A fresh directory named `prefix` + a random suffix. */
  def create(prefix: String): Path = {
    val d = Files.createTempDirectory(prefix)
    dirs.add(d)
    d
  }

  private def delete(root: Path): Unit =
    try Files.walkFileTree(root, new SimpleFileVisitor[Path] {
      override def visitFile(f: Path, a: BasicFileAttributes): FileVisitResult = {
        Files.deleteIfExists(f)
        FileVisitResult.CONTINUE
      }
      override def postVisitDirectory(d: Path, e: IOException): FileVisitResult = {
        Files.deleteIfExists(d)
        FileVisitResult.CONTINUE
      }
    }) catch { case _: IOException => }
}
