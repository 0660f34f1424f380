package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite

class TempDirsSpec extends AnyFunSuite {
  test("deleteRecursively removes a nested tree, root included") {
    val root = Files.createTempDirectory("graft-tempdirs-spec")
    val deep = Files.createDirectories(root.resolve("a/b/c"))
    Files.writeString(deep.resolve("leaf.txt"), "x")
    Files.writeString(root.resolve("a/top.txt"), "y")
    Files.createDirectories(root.resolve("empty"))
    TempDirs.deleteRecursively(root.toString)
    assert(!Files.exists(root))
  }
}
