package graft

import java.nio.file.{Files, Path}
import java.util.Comparator
import java.util.concurrent.ConcurrentLinkedQueue

/** Temporary directories for specs. Each one is deleted with its contents
  * when the test JVM exits (the build forks one JVM for the whole test
  * run), so a run leaves nothing behind in `java.io.tmpdir`. Deletion
  * waits for the exit, not for the end of each spec, because the specs
  * share one Spark session that may still hold a directory's files. */
object TempDirs {
  private val made = new ConcurrentLinkedQueue[Path]()

  Runtime.getRuntime.addShutdownHook(new Thread(() => made.forEach(deleteTree)))

  /** A new empty directory named `prefix` plus a random suffix. */
  def apply(prefix: String): Path = {
    val dir = Files.createTempDirectory(prefix)
    made.add(dir)
    dir
  }

  private def deleteTree(root: Path): Unit =
    try {
      val paths = Files.walk(root)
      try paths.sorted(Comparator.reverseOrder[Path]()).forEach(p => Files.deleteIfExists(p))
      finally paths.close()
    } catch {
      case _: java.io.IOException | _: java.io.UncheckedIOException => // already gone
    }
}
