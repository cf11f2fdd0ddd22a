package graft.util

import java.io.File
import java.nio.file.{Files, Path}

import org.apache.commons.io.FileUtils

/** Temp directories that live exactly as long as the JVM. Each is made
  * under one per-process root in `java.io.tmpdir`, which a single
  * shutdown hook deletes recursively (`File.deleteOnExit` removes only
  * empty directories), so directories memoized for the whole process
  * stay valid until it exits and none outlive it. */
object TempDirs {
  private lazy val root: Path = {
    val r = Files.createTempDirectory("graft-")
    sys.addShutdownHook(deleteTree(r.toFile))
    r
  }

  /** A fresh, empty directory under the per-JVM root. */
  def create(prefix: String): Path = Files.createTempDirectory(root, prefix)

  /** Deletes `dir` and everything below it; never throws. */
  def deleteTree(dir: File): Unit = FileUtils.deleteQuietly(dir)
}
