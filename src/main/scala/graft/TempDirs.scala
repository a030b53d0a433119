package graft

import java.nio.file.{Files, Path}

/** Temporary directories that live no longer than the JVM. The exit
  * hook runs after Spark's own (a lower Hadoop hook priority runs
  * later), so no query of the stopped session still writes into them.
  */
object TempDirs {
  private val live = java.util.concurrent.ConcurrentHashMap.newKeySet[Path]()
  org.apache.hadoop.util.ShutdownHookManager.get().addShutdownHook(
    () => live.forEach(delete(_)), org.apache.hadoop.fs.FileSystem.SHUTDOWN_HOOK_PRIORITY + 20)

  def create(prefix: String): Path = { val dir = Files.createTempDirectory(prefix); live.add(dir); dir }

  /** Delete a directory tree now. */
  def delete(dir: Path): Unit = { live.remove(dir); org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile) }
}
