package graft.sinks

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths, Path => NioPath}
import java.util.{Locale, UUID}

import graft.streaming.LocalFiles
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.execution.datasources.json.JsonFileFormat
import org.apache.spark.sql.functions.{col, struct, to_json}
import org.apache.spark.sql.types.{DataType, StructType}

/** `FileSink`'s JSON writer for a directory on local disk: the lines
  * Spark's JSON writer writes, without its commit protocol.
  *
  * Each row is rendered by `to_json(struct(*))`, i.e. by the
  * `JacksonGenerator` and session `SQLConf` (null-field omission,
  * timestamp format, time zone) that Spark's JSON writer uses. Each
  * partition writes its rows straight into its own part files with
  * `java.nio`, named as Spark names them,
  * `part-<partition>-<job uuid>-c<file>.json`; a file is cut at
  * `maxRecordsPerFile` rows. Each file is published through a hidden
  * temp file unique to the task attempt ([[LocalFiles.writeAtomically]]),
  * so a retried task replaces its own files and a failed attempt leaves
  * none. Partition 0 always writes a file, an empty one for an empty
  * result, so that the directory still reads back as 0 rows.
  *
  * The write is one `foreachPartition` on the Dataset, so the frame's
  * `observe()` metrics arrive as with any Dataset action. Unlike Spark's
  * job commit, a job that fails after some of its tasks succeeded keeps
  * their files.
  */
private[sinks] object JsonLineWriter {
  /** Whether Spark's JSON writer accepts `schema`. For a schema it
    * rejects (duplicate column names, an empty struct, a type JSON
    * files cannot hold), `FileSink` goes through Spark's writer, which
    * throws its own error.
    */
  def accepts(schema: StructType, caseSensitive: Boolean): Boolean = {
    def noEmptyStruct(t: DataType): Boolean = t match {
      case s: StructType => s.nonEmpty && s.forall(f => noEmptyStruct(f.dataType))
      case _ => true
    }
    val key: String => String = if (caseSensitive) identity else _.toLowerCase(Locale.ROOT)
    noEmptyStruct(schema) && JsonFileFormat().supportDataType(schema) &&
      schema.fieldNames.map(key).distinct.length == schema.length
  }

  private def fileName(partition: Int, jobId: String, file: Int): String =
    f"part-$partition%05d-$jobId-c$file%03d.json"

  /** Append `df`'s rows to `dir` as JSON lines, at most
    * `maxRecordsPerFile` to a file (no cap when it is 0 or less).
    */
  def write(df: DataFrame, dir: NioPath, maxRecordsPerFile: Long): Unit = {
    val jobId = UUID.randomUUID().toString
    val target = dir.toString
    Files.createDirectories(dir)
    df.select(to_json(struct(col("*")))).as(Encoders.STRING)
      .foreachPartition((lines: Iterator[String]) => writePartition(lines, target, jobId, maxRecordsPerFile))
    // a frame with no partitions ran no task; Spark's writer still
    // leaves one empty file
    val first = dir.resolve(fileName(0, jobId, 0))
    if (!Files.exists(first)) Files.write(first, Array.emptyByteArray)
  }

  private def writePartition(lines: Iterator[String], dir: String, jobId: String, cap: Long): Unit = {
    val task = TaskContext.get()
    val partition = task.partitionId()
    if (partition == 0 || lines.hasNext) {
      var file = 0
      do {
        LocalFiles.writeAtomically(Paths.get(dir, fileName(partition, jobId, file)),
            task.taskAttemptId().toString) { out =>
          var n = 0L
          while (lines.hasNext && (cap <= 0 || n < cap)) {
            out.write(lines.next().getBytes(UTF_8))
            out.write('\n')
            n += 1
          }
        }
        file += 1
      } while (lines.hasNext)
    }
  }
}
