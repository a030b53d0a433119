package graft.streaming

import java.io.{BufferedOutputStream, OutputStream}
import java.net.URI
import java.nio.file.{Files, NoSuchFileException, StandardCopyOption, Path => NioPath}

import org.apache.hadoop.fs.Path

/** The local-disk policy shared by graft's `java.nio` writers, the
  * streaming checkpoint manager and `FileSink`'s line writer:
  *  - which Hadoop paths are local: those on `file:`, by their own
  *    scheme or, without one, by the default file system's;
  *  - how a file is published there: written to a temp file in its own
  *    directory, then moved onto its name with `ATOMIC_MOVE`, so a
  *    reader sees either no file or the whole file.
  * Writing through `java.nio` skips Hadoop's local file system, which
  * without the native `libhadoop` forks `chmod` for every create and
  * `readlink` for every rename.
  */
object LocalFiles {
  /** Whether `path` is on `file:`: its own scheme, or else `defaultFs`'s
    * (`fs.defaultFS`), the one Hadoop resolves a scheme-less path against.
    */
  def isLocal(path: Path, defaultFs: => URI): Boolean =
    Option(path.toUri.getScheme).getOrElse(defaultFs.getScheme) == "file"

  /** Open `file` for writing, creating its missing parent directories. */
  def create(file: NioPath): OutputStream = {
    val out =
      try Files.newOutputStream(file)
      catch { case _: NoSuchFileException =>
        Files.createDirectories(file.getParent)
        Files.newOutputStream(file)
      }
    new BufferedOutputStream(out)
  }

  /** Move the finished `temp` onto `target`, replacing it, in one step. */
  def publish(temp: NioPath, target: NioPath): Unit =
    Files.move(temp, target, StandardCopyOption.ATOMIC_MOVE)

  /** Write `target` through a hidden temp file beside it, named by `tag`
    * (unique per writer), and publish it once `write` has returned. If
    * `write` throws, the temp file is deleted and `target` is untouched.
    */
  def writeAtomically(target: NioPath, tag: String)(write: OutputStream => Unit): Unit = {
    val temp = target.resolveSibling(s".${target.getFileName}.$tag.tmp")
    try {
      val out = create(temp)
      try write(out) finally out.close()
      publish(temp, target)
    } catch { case e: Throwable =>
      Files.deleteIfExists(temp)
      throw e
    }
  }
}
