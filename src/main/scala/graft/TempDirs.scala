package graft

import java.nio.file.{Files, Path, Paths}
import java.util.Comparator

/** Scratch directories a call creates under the system temp dir and
  * removes itself before it returns.
  */
private[graft] object TempDirs {
  /** Deletes `root` and everything under it, children before parents.
    * The walk's stream holds an open directory handle until it is
    * closed, so it is closed here whether or not a delete fails.
    */
  def deleteRecursively(root: String): Unit = {
    val walk = Files.walk(Paths.get(root))
    try walk.sorted(Comparator.reverseOrder[Path]()).forEach(p => Files.deleteIfExists(p))
    finally walk.close()
  }
}
