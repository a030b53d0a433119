package graft.streaming

import java.nio.file.{FileSystemException, Files}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileAlreadyExistsException, FileStatus, FileSystem, Path, PathFilter}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream

/** Checkpoint file manager for streaming rules whose checkpoints live on
  * local disk, plugged in through Spark's own extension point
  * `spark.sql.streaming.checkpointFileManagerClass`.
  *
  * On a `file:` path, Spark's default manager goes through Hadoop's
  * `RawLocalFileSystem`, which without the native `libhadoop` forks
  * `readlink` for every rename and `chmod` for every create: a few
  * child processes per offset, commit, seen-files, state delta and
  * checksum file, i.e. per micro-batch of every rule. This manager
  * writes those files with `java.nio` instead:
  *  - each file is written to a temp file in the same directory and
  *    then renamed over its target atomically ([[LocalFiles]]);
  *  - a create with `overwriteIfPossible = false` links the temp file
  *    to the target and then deletes it, so it fails with
  *    `FileAlreadyExistsException` when the target exists and leaves
  *    the existing bytes alone;
  *  - replacing a file deletes its `.crc` sibling, which Hadoop's
  *    `LocalFileSystem` (and Spark's default manager) may have written
  *    and which would no longer match;
  *  - directories are created with `Files.createDirectories`.
  * Reads, listings, existence checks and deletes still go through
  * Hadoop's local file system, which forks for none of them.
  *
  * Every other scheme is served by the manager Spark would pick without
  * this class (`FileContextBasedCheckpointFileManager`, or its
  * `FileSystem`-based fallback), unchanged. State stores build their
  * manager from the same conf on the executors, so one class covers
  * the query's own logs and the executors' state files.
  */
final class LocalCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends CheckpointFileManager {

  private[graft] val delegate: CheckpointFileManager = {
    if (LocalFiles.isLocal(path, FileSystem.getDefaultUri(hadoopConf)))
      new LocalCheckpointFileManager.NioFiles(path, hadoopConf)
    else {
      val conf = new Configuration(hadoopConf)
      conf.unset(LocalCheckpointFileManager.ConfKey)
      CheckpointFileManager.create(path, conf)
    }
  }

  def createAtomic(p: Path, overwriteIfPossible: Boolean): CancellableFSDataOutputStream =
    delegate.createAtomic(p, overwriteIfPossible)
  def open(p: Path): FSDataInputStream = delegate.open(p)
  def list(p: Path, filter: PathFilter): Array[FileStatus] = delegate.list(p, filter)
  def mkdirs(p: Path): Unit = delegate.mkdirs(p)
  def exists(p: Path): Boolean = delegate.exists(p)
  def delete(p: Path): Unit = delegate.delete(p)
  def isLocal: Boolean = delegate.isLocal
  def createCheckpointDirectory(): Path = delegate.createCheckpointDirectory()
  override def close(): Unit = delegate.close()
}

object LocalCheckpointFileManager {
  val ConfKey = "spark.sql.streaming.checkpointFileManagerClass"

  /** Make `spark` build its checkpoint managers from this class, unless
    * the session already names one itself.
    */
  def install(spark: SparkSession): Unit =
    if (spark.conf.getOption(ConfKey).isEmpty)
      spark.conf.set(ConfKey, classOf[LocalCheckpointFileManager].getName)

  /** The `file:` side: Spark's `FileSystem`-based manager with its
    * three forking operations (temp-file create, rename, mkdirs)
    * replaced by `java.nio` calls.
    */
  private final class NioFiles(path: Path, hadoopConf: Configuration)
      extends FileSystemBasedCheckpointFileManager(path, hadoopConf) {

    private def local(p: Path): java.nio.file.Path = java.nio.file.Paths.get(fs.makeQualified(p).toUri)

    override def createTempFile(p: Path): FSDataOutputStream =
      new FSDataOutputStream(LocalFiles.create(local(p)), null)

    override def renameTempFile(src: Path, dst: Path, overwriteIfPossible: Boolean): Unit = {
      val (from, to) = (local(src), local(dst))
      val crc = to.resolveSibling(s".${to.getFileName}.crc")
      if (overwriteIfPossible) {
        Files.deleteIfExists(crc)
        LocalFiles.publish(from, to)
      } else {
        try {
          try Files.createLink(to, from)
          catch {
            // a file system without hard links: check, then rename, as
            // Hadoop's local file system does
            case _: UnsupportedOperationException | _: FileSystemException if !Files.exists(to) =>
              Files.move(from, to)
          }
        } catch {
          case _: java.nio.file.FileAlreadyExistsException =>
            Files.deleteIfExists(from)
            throw new FileAlreadyExistsException(s"Failed to rename $src to $dst as $dst already exists")
        }
        Files.deleteIfExists(from)
        Files.deleteIfExists(crc)
      }
    }

    override def mkdirs(p: Path): Unit = Files.createDirectories(local(p))

    override def createCheckpointDirectory(): Path = {
      val qualified = fs.makeQualified(path)
      Files.createDirectories(local(qualified))
      qualified
    }
  }
}
