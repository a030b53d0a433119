package graft

import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path => NioPath}

import graft.sinks.Sink
import graft.streaming.LocalCheckpointFileManager
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, FileSystem, Path, RawLocalFileSystem}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileContextBasedCheckpointFileManager, FileSystemBasedCheckpointFileManager}

/** A local file system under its own scheme: a path Spark's default
  * manager serves (Hadoop has no `FileContext` for it, so Spark falls
  * back to its `FileSystem`-based manager).
  */
class TestSchemeFileSystem extends RawLocalFileSystem {
  override def getUri: URI = URI.create("graftlocal:///")
  override def getScheme: String = "graftlocal"
}

/** `LocalCheckpointFileManager` writes `file:` checkpoints atomically
  * with `java.nio`, hands every other scheme to Spark's default manager,
  * and is installed only into sessions that name no manager themselves.
  */
class LocalCheckpointFileManagerSpec extends SparkSuite {
  private val conf = new Configuration()

  private def manager(dir: NioPath) =
    new LocalCheckpointFileManager(new Path(dir.toUri), conf)

  private def write(fm: CheckpointFileManager, p: Path, bytes: String, overwrite: Boolean): Unit = {
    val out = fm.createAtomic(p, overwrite)
    out.write(bytes.getBytes(UTF_8))
    out.close()
  }

  private def names(dir: NioPath): Set[String] =
    dir.toFile.list().toSet

  test("a file appears only on close; cancel leaves neither the file nor a temp file") {
    val dir = tempDir("graft-ckfm")
    val fm = manager(dir)
    val target = new Path(dir.resolve("0").toUri)
    val out = fm.createAtomic(target, overwriteIfPossible = false)
    out.write("v1\n{}".getBytes(UTF_8))
    assert(!fm.exists(target) && !Files.exists(dir.resolve("0")))
    out.close()
    assert(new String(Files.readAllBytes(dir.resolve("0")), UTF_8) == "v1\n{}")
    assert(names(dir) == Set("0"), "the temp file must be renamed away")

    val cancelled = fm.createAtomic(new Path(dir.resolve("1").toUri), overwriteIfPossible = true)
    cancelled.write("partial".getBytes(UTF_8))
    cancelled.cancel()
    assert(names(dir) == Set("0"))
    // directories are created as needed, nested ones included
    fm.mkdirs(new Path(dir.resolve("state/0/1").toUri))
    assert(Files.isDirectory(dir.resolve("state/0/1")))
  }

  test("a no-overwrite create over an existing file throws and keeps the old bytes") {
    val dir = tempDir("graft-ckfm")
    val fm = manager(dir)
    val target = new Path(dir.resolve("7").toUri)
    write(fm, target, "old", overwrite = false)
    intercept[FileAlreadyExistsException](write(fm, target, "new", overwrite = false))
    assert(new String(Files.readAllBytes(dir.resolve("7")), UTF_8) == "old")
    assert(names(dir) == Set("7"), "a failed create must not leave its temp file")
    write(fm, target, "newer", overwrite = true)
    assert(new String(Files.readAllBytes(dir.resolve("7")), UTF_8) == "newer")
  }

  test("overwriting a file LocalFileSystem wrote drops its stale .crc") {
    val dir = tempDir("graft-ckfm")
    val lfs = FileSystem.getLocal(conf)
    val target = new Path(dir.resolve("1.delta").toUri)
    val o = lfs.create(target)
    o.write("written by hadoop, with a checksum".getBytes(UTF_8))
    o.close()
    assert(Files.exists(dir.resolve(".1.delta.crc")))
    write(manager(dir), target, "replaced", overwrite = true)
    assert(!Files.exists(dir.resolve(".1.delta.crc")))
    val in = lfs.open(target) // verifies a .crc sibling if one is left
    try assert(new String(in.readAllBytes(), UTF_8) == "replaced") finally in.close()
  }

  test("a path on another scheme goes to Spark's default manager") {
    val dir = tempDir("graft-ckfm")
    val c = new Configuration(conf)
    c.set("fs.graftlocal.impl", classOf[TestSchemeFileSystem].getName)
    c.setBoolean("fs.graftlocal.impl.disable.cache", true)
    c.set(LocalCheckpointFileManager.ConfKey, classOf[LocalCheckpointFileManager].getName)
    val other = new Path(s"graftlocal://${dir.toUri.getPath}")
    val fm = new LocalCheckpointFileManager(other, c)
    val spark0 = { val d = new Configuration(c); d.unset(LocalCheckpointFileManager.ConfKey); d }
    assert(fm.delegate.getClass == CheckpointFileManager.create(other, spark0).getClass)
    assert(fm.delegate.getClass == classOf[FileSystemBasedCheckpointFileManager])
    // the file scheme, explicit or by default, is written with java.nio
    assert(manager(dir).delegate.getClass.getSimpleName == "NioFiles")
    assert(new LocalCheckpointFileManager(new Path(dir.toString), conf)
      .delegate.getClass.getSimpleName == "NioFiles")
    val p = new Path(other, "0")
    write(fm, p, "through spark", overwrite = false)
    val in = fm.open(p)
    try assert(new String(in.readAllBytes(), UTF_8) == "through spark") finally in.close()
  }

  test("starting a query installs the manager unless the session names its own") {
    import LocalCheckpointFileManager.ConfKey
    def run(session: org.apache.spark.sql.SparkSession): NioPath = {
      val in = tempDir("graft-ckfm-in")
      Files.write(in.resolve("a.json"), """{"x":1}""".getBytes(UTF_8))
      val ckpt = tempDir("graft-ckfm-q")
      val q = Sink.startQuery(session.readStream.schema("x INT").json(in.toString),
        s"ckfm_${ckpt.getFileName}", 0, Some(ckpt.toString))(
        _.foreachBatch((_: DataFrame, _: Long) => ()))
      try q.processAllAvailable() finally q.stop()
      ckpt
    }
    def crcs(ckpt: NioPath): Long =
      Files.walk(ckpt).filter(_.getFileName.toString.endsWith(".crc")).count()

    val fresh = spark.newSession()
    assert(fresh.conf.getOption(ConfKey).isEmpty)
    val ours = run(fresh)
    assert(fresh.conf.get(ConfKey) == classOf[LocalCheckpointFileManager].getName)
    assert(Files.exists(ours.resolve("offsets/0")) && crcs(ours) == 0)

    val own = spark.newSession()
    own.conf.set(ConfKey, classOf[FileContextBasedCheckpointFileManager].getName)
    val theirs = run(own)
    assert(own.conf.get(ConfKey) == classOf[FileContextBasedCheckpointFileManager].getName)
    // Spark's default manager writes through Hadoop's checksummed FS
    assert(Files.exists(theirs.resolve("offsets/0")) && crcs(theirs) > 0)
  }
}
