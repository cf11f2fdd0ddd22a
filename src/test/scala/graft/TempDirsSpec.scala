package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.util.TempDirs

class TempDirsSpec extends AnyFunSuite {

  test("deleteTree removes a nested non-empty tree, which " +
      "File.deleteOnExit cannot") {
    val dir = TempDirs.create("graft-tree")
    Files.createDirectories(dir.resolve("a/b/c"))
    Files.writeString(dir.resolve("a/b/c/part-0.parquet"), "x")
    Files.writeString(dir.resolve("a/_SUCCESS"), "")
    assert(!dir.toFile.delete(), "a non-empty directory deleted directly")
    TempDirs.deleteTree(dir.toFile)
    assert(!Files.exists(dir))
    // the per-JVM root outlives its children: a later create still works
    assert(Files.isDirectory(TempDirs.create("graft-tree")))
  }
}
