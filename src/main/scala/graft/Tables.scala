package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType, TimestampType}

/** Test-table loader. Tables are the driver-generated TPC-H-ish star
  * schema (see TESTDATA.md). At cluster scale the same
  * parquet layout is read from distributed storage — nothing here is
  * local-mode specific; filters/projections push down to the scan.
  *
  * A table's parquet schema is resolved once per session per file set:
  * the first read of a path infers it from the footers (a one-task Spark
  * job), and every read, that one included, goes through
  * `spark.read.schema(s).parquet(path)`, which runs no job. The memo is
  * keyed on the session (held weakly), the path, and the name, length
  * and modification time of every file under the path, so a table
  * rewritten in place is inferred again.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    // events.parquet carries TIMESTAMP(NANOS), which parquet-mr maps to
    // INT64 and Spark rejects by default; read nanos as long and convert
    // to a microsecond timestamp (generator emits µs-aligned values, so
    // this is lossless and matches DuckDB's reading of the same file).
    if (spark.conf.getOption("spark.sql.legacy.parquet.nanosAsLong").forall(_ != "true"))
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val path = s"$dir/$name.parquet"
    val raw = spark.read.schema(rawSchema(spark, path)).parquet(path)
    val df =
      if (name == "events" && raw.schema("ts").dataType == LongType)
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      else raw
    // Generators that emit naive (not UTC-adjusted) parquet timestamps
    // surface as TIMESTAMP_NTZ under Spark's default inference; all query
    // semantics (and the DuckDB oracle, whose session runs in UTC) treat
    // them as instants, so normalize to TIMESTAMP. With the session in
    // UTC the wall-clock is preserved exactly — same micros, same oracle
    // rendering — and sessions that already disable
    // spark.sql.parquet.inferTimestampNTZ.enabled never hit this branch.
    df.schema.fields.filter(_.dataType == TimestampNTZType)
      .foldLeft(df)((d, f) => d.withColumn(f.name, col(f.name).cast(TimestampType)))
  }

  /** Register every table as a temp view (for spark.sql rules). */
  def registerAll(spark: SparkSession, dir: String): Unit =
    all.foreach(n => apply(spark, dir, n).createOrReplaceTempView(n))

  /** An inferred schema and the files it was inferred from. */
  private final case class Resolved(files: Seq[(String, Long, Long)], schema: StructType)

  /** Session → path → resolved schema. Weak keys: a session's entries
    * go when the session does; values hold no reference to it.
    */
  private val resolved =
    new java.util.WeakHashMap[SparkSession, ConcurrentHashMap[String, Resolved]]()

  /** (name, length, modification time) of every file under `p`; a flat
    * table directory or single file is one `listStatus`.
    */
  private def files(fs: FileSystem, p: Path): Seq[(String, Long, Long)] =
    fs.listStatus(p).toSeq.flatMap { s =>
      if (s.isDirectory) files(fs, s.getPath)
      else Seq((s.getPath.toString, s.getLen, s.getModificationTime))
    }

  /** The schema Spark infers for the parquet at `path`, inferred again
    * only when the path's files differ from those it was inferred from.
    */
  private def rawSchema(spark: SparkSession, path: String): StructType = {
    val p = new Path(path)
    val listing = files(p.getFileSystem(spark.sparkContext.hadoopConfiguration), p).sorted
    val bySession = resolved.synchronized(
      resolved.computeIfAbsent(spark, _ => new ConcurrentHashMap[String, Resolved]()))
    Option(bySession.get(path)).filter(_.files == listing).getOrElse {
      val r = Resolved(listing, spark.read.parquet(path).schema)
      bySession.put(path, r)
      r
    }.schema
  }
}
