package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path => NioPath}
import java.util.concurrent.TimeUnit
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import graft.rules.{Rule, RuleEngine}
import graft.sinks.FileSink
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** `FileSink`'s JSON line writer: the same lines as Spark's JSON writer,
  * no commit-protocol files, exactly-once output under task retries,
  * `DataFrameWriter` for every write it does not cover, and no forked
  * processes on the streaming path.
  */
class FileSinkSpec extends SparkSuite {
  private val PartFile = """part-(\d{5})-([0-9a-f-]{36})-c(\d{3})\.json""".r

  private def names(dir: NioPath): Set[String] = dir.toFile.list().toSet

  /** Each part file's bytes, keyed by partition and file index (the
    * job uuid left out).
    */
  private def parts(dir: NioPath): Map[(String, String), String] =
    names(dir).collect { case n @ PartFile(p, _, c) =>
      (p, c) -> new String(Files.readAllBytes(dir.resolve(n)), UTF_8)
    }.toMap

  /** Writes with graft's line writer (mode append) and with Spark's
    * writer (mode overwrite, which takes that path) into fresh
    * directories; returns both.
    */
  private def bothWays(df: DataFrame, opts: Map[String, String] = Map.empty): (NioPath, NioPath) = {
    val (lines, spark) = (tempDir("graft-lines").resolve("out"), tempDir("graft-spark").resolve("out"))
    FileSink(lines.toString, "json", opts).writeBatch(df)
    FileSink(spark.toString, "json", opts + ("mode" -> "overwrite")).writeBatch(df)
    assert(!names(lines).contains("_SUCCESS") && names(spark).contains("_SUCCESS"))
    (lines, spark)
  }

  private def mixed(s: SparkSession): DataFrame =
    s.range(0, 12, 1, 3).select(
      col("id"),
      when(col("id") % 3 =!= 0, col("id") * 1.5).as("maybe"),
      struct(col("id").as("a"), array(col("id"), lit(null).cast("long")).as("xs"),
        map(lit("k"), col("id") % 4).as("m")).as("nested"),
      (lit(1700000000L) + col("id") * 86399).cast("timestamp").as("ts"),
      date_add(lit("2024-02-27").cast("date"), col("id").cast("int")).as("d"),
      (col("id") / 7).cast("decimal(12,4)").as("dec"),
      concat(lit("héllo ✓ 日本 \"q\"\t"), col("id")).as("text"),
      (col("id") * 2).as("a.b"), (col("id") * 3).as("with space"),
      lit(null).cast("string").as("always_null"))

  test("line writer writes the lines Spark's JSON writer writes, file by file") {
    def check(s: SparkSession): Seq[String] = {
      val df = mixed(s)
      val (lines, spark) = bothWays(df)
      assert(parts(lines) == parts(spark))
      assert(parts(lines).count(_._2.nonEmpty) >= 2, parts(lines).keys)
      val templated = Map("dataTemplate" -> """{"id":{{id}},"t":"{{text}}","ts":"{{ts}}"}""")
      val (tl, ts) = bothWays(df, templated)
      assert(parts(tl) == parts(ts) && parts(tl).values.mkString.contains("payload"))
      parts(lines).values.flatMap(_.split("\n")).filter(_.nonEmpty).toSeq
    }
    val utc = check(spark)
    assert(utc.size == 12 && !utc.exists(_.contains("always_null")) && utc.exists(_.contains("日本")))
    // a session's time zone and null-field setting reach the lines too
    val other = spark.newSession()
    other.conf.set("spark.sql.session.timeZone", "Asia/Kolkata")
    other.conf.set("spark.sql.jsonGenerator.ignoreNullFields", "false")
    val kolkata = check(other)
    assert(kolkata.forall(_.contains("\"always_null\":null")) && kolkata.exists(_.contains("+05:30")))
  }

  test("an empty result leaves part-00000, which reads back as 0 rows") {
    val (lines, _) = bothWays(spark.range(0, 0, 1, 3).toDF("v"))
    val List(PartFile(p, _, c)) = names(lines).toList
    assert(p == "00000" && c == "000" && Files.size(lines.resolve(names(lines).head)) == 0)
    assert(spark.read.json(lines.toString).count() == 0)
    // a frame with no partitions runs no task and still leaves one file
    val none = spark.createDataFrame(spark.sparkContext.emptyRDD[Row], StructType.fromDDL("v BIGINT"))
    val (l0, s0) = bothWays(none)
    assert(parts(l0).keySet == Set(("00000", "000")) && parts(l0) == parts(s0))
    assert(spark.read.json(l0.toString).count() == 0)
  }

  test("rollingCount rolls c000, c001, ... as Spark's writer does") {
    val (lines, spark) = bothWays(this.spark.range(0, 5, 1, 1).toDF("v"), Map("rollingCount" -> "2"))
    assert(parts(lines).keySet == Set(("00000", "000"), ("00000", "001"), ("00000", "002")))
    assert(parts(lines) == parts(spark))
    assert(parts(lines)(("00000", "002")) == "{\"v\":4}\n")
  }

  test("line writes leave only part files: no _temporary, _SUCCESS, .crc or temp file") {
    val out = tempDir("graft-clean").resolve("out")
    val sink = FileSink(out.toString, "json", Map("rollingCount" -> "3"))
    sink.writeBatch(spark.range(0, 10, 1, 2).toDF("v"))
    sink.writeBatch(spark.range(0, 0, 1, 2).toDF("v"))
    sink.writeBatch(spark.range(10, 20, 1, 4).toDF("v"))
    val all = names(out)
    assert(all.forall(PartFile.matches), all)
    assert(all.collect { case PartFile(_, u, _) => u }.size == 3, "one job uuid per batch")
    assert(spark.read.json(out.toString).as[Long](org.apache.spark.sql.Encoders.scalaLong)
      .collect().sorted.toSeq == (0L until 20L))
  }

  test("csv, parquet, partitionBy, compression, other modes and schemes go through DataFrameWriter") {
    def viaSpark(s: SparkSession, target: String, dir: NioPath, fmt: String, opts: Map[String, String]): Unit = {
      FileSink(target, fmt, opts).writeBatch(s.range(0, 6, 1, 2).select(col("id"), (col("id") % 2).as("k")))
      assert(names(dir).contains("_SUCCESS"), s"$fmt $opts wrote ${names(dir)}")
    }
    def fresh() = tempDir("graft-fallback").resolve("out")
    for ((fmt, opts) <- Seq("csv" -> Map.empty[String, String], "parquet" -> Map.empty[String, String],
        "json" -> Map("partitionBy" -> "k"), "json" -> Map("compression" -> "gzip"),
        "json" -> Map("mode" -> "overwrite"), "json" -> Map("mode" -> "ignore"))) {
      val d = fresh()
      viaSpark(spark, d.toString, d, fmt, opts)
    }
    // another scheme, named in the path or by the session's fs.defaultFS
    val other = spark.newSession()
    other.conf.set("fs.graftlocal.impl", classOf[TestSchemeFileSystem].getName)
    val d1 = fresh()
    viaSpark(other, s"graftlocal://${d1.toUri.getPath}", d1, "json", Map.empty)
    other.conf.set("fs.defaultFS", "graftlocal:///")
    val d2 = fresh()
    viaSpark(other, d2.toString, d2, "json", Map.empty)
    assert(spark.read.json(d2.toString).count() == 6)
    // a schema Spark's writer rejects gets Spark's own error
    val dup = spark.range(2).select(col("id"), col("id"))
    val e = intercept[org.apache.spark.sql.AnalysisException](FileSink(fresh().toString).writeBatch(dup))
    assert(e.getCondition == "COLUMN_ALREADY_EXISTS", e.getMessage)
  }

  test("a batch rule's observed row count equals the rows the line writer wrote") {
    val in = tempDir("graft-fs-rule-in")
    Files.write(in.resolve("part-0.json"),
      (1 to 9).map(i => s"""{"device":"d${i % 3}","temp":$i}""").mkString("\n").getBytes(UTF_8))
    val out = tempDir("graft-fs-rule-out").resolve("out")
    val eng = new RuleEngine(spark)
    try {
      eng.createStream(
        s"""CREATE STREAM fsr (device STRING, temp BIGINT) WITH
           | (TYPE="file", FORMAT="json", DATASOURCE="$in")""".stripMargin)
      eng.create(Rule("fsr1", "SELECT device, temp FROM fsr WHERE temp > 2", Seq(FileSink(out.toString))))
      eng.start("fsr1")
      assert(names(out).forall(PartFile.matches))
      assert(eng.status("fsr1").rowsProcessed == 7)
      assert(spark.read.json(out.toString).count() == 7)
    } finally eng.close()
  }

  test("a task retried after failing mid-partition leaves every row once and no file of the failed attempt") {
    val dir = tempDir("graft-retry")
    val (out, log) = (dir.resolve("out"), dir.resolve("child.log"))
    val jvmOpens = java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments
      .asScala.filter(_.startsWith("--add-opens")).toSeq
    val cmd = Seq(System.getProperty("java.home") + "/bin/java", "-Xmx768m") ++ jvmOpens ++
      Seq("-cp", System.getProperty("java.class.path"), "graft.FileSinkRetryMain", out.toString)
    val proc = new ProcessBuilder(cmd.asJava).redirectErrorStream(true).redirectOutput(log.toFile).start()
    if (!proc.waitFor(240, TimeUnit.SECONDS)) proc.destroyForcibly()
    val output = new String(Files.readAllBytes(log), UTF_8)
    assert(proc.exitValue() == 0 && output.contains("injected_failures=1"), output.takeRight(4000))
    val all = names(out)
    assert(all.forall(PartFile.matches), all)
    assert(all.size == 10, all) // 2 partitions x 50 rows, 10 rows a file
    val ids = all.toSeq.flatMap(n => Files.readAllLines(out.resolve(n)).asScala)
    assert(ids.sorted == (0 until 100).map(i => s"""{"id":$i}""").sorted)
  }

  test("streaming rules with file checkpoints and file sinks fork no chmod, readlink or stat") {
    import jdk.jfr.Recording
    import jdk.jfr.consumer.RecordingFile
    val in = tempDir("graft-fork-in")
    val root = tempDir("graft-fork")
    def events(batch: Int): String = (0 until 6).map { i =>
      val s = batch * 12 + i * 2
      f"""{"device":"d${i % 2}","temp":$i,"ts":"2024-01-01T00:${s / 60}%02d:${s % 60}%02dZ"}"""
    }.mkString("\n")
    val eng = new RuleEngine(spark)
    val rules = Seq(
      "fork_filter" -> "SELECT device, temp FROM forks WHERE temp > 1",
      "fork_window" -> ("SELECT device, count(*) AS n, window_start() AS ws FROM forks " +
        "GROUP BY device, TUMBLINGWINDOW(ss, 10)"))
    def uuids(id: String): Set[String] = Option(root.resolve(id).toFile.list()).toSeq.flatten
      .collect { case PartFile(_, u, _) => u }.toSet
    try {
      eng.createStream(
        s"""CREATE STREAM forks (device STRING, temp BIGINT, ts TIMESTAMP) WITH
           | (TYPE="file", FORMAT="json", DATASOURCE="$in",
           |  TIMESTAMP="ts", WATERMARK="1 seconds")""".stripMargin)
      rules.foreach { case (id, sql) =>
        eng.create(Rule(id, sql, Seq(FileSink(root.resolve(id).toString)), streaming = true,
          checkpointDir = Some(root.resolve("ckpt").resolve(id).toUri.toString)))
        eng.start(id)
      }
      def batch(b: Int): Unit = {
        Files.write(in.resolve(s"part-$b.json"), events(b).getBytes(UTF_8))
        rules.foreach { case (id, _) => eng.processAllAvailable(id) }
      }
      batch(0) // warm-up
      val warm = rules.map { case (id, _) => id -> uuids(id) }.toMap
      val rec = new Recording()
      rec.enable("jdk.ProcessStart").withStackTrace()
      rec.start()
      try (1 to 3).foreach(batch) finally rec.stop()
      val jfr = tempDir("graft-forks").resolve("forks.jfr")
      rec.dump(jfr)
      rec.close()
      rules.foreach { case (id, _) =>
        assert((uuids(id) -- warm(id)).size >= 3, s"$id wrote fewer than 3 batches while recorded")
      }
      val starts = RecordingFile.readAllEvents(jfr).asScala.toSeq
        .filter(_.getEventType.getName == "jdk.ProcessStart")
      val forked = starts.filter { e =>
        Set("chmod", "readlink", "stat").contains(e.getString("command").trim.split("\\s+").head.split('/').last)
      }.map(e => e.getString("command") + " at " +
        e.getStackTrace.getFrames.asScala.take(12).map(_.getMethod.getName).mkString(" < "))
      assert(forked.isEmpty, s"${forked.size} forks, e.g. ${forked.take(3).mkString("; ")}")
      assert(spark.read.json(root.resolve("fork_filter").toString).count() == 4 * 4)
    } finally eng.close()
  }
}

/** Child-JVM side of the retry test: a `local[2,2]` session retries a
  * failed task once. The UDF throws on task attempt 0 of partition 1,
  * after that attempt has published two part files and begun a third.
  */
object FileSinkRetryMain {
  val injected = new AtomicInteger()

  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[2,2]")
      .config("spark.ui.enabled", "false").config("spark.sql.shuffle.partitions", "2").getOrCreate()
    try {
      val boom = udf { (id: Long) =>
        val task = TaskContext.get()
        if (task.attemptNumber() == 0 && task.partitionId() == 1 && id == 75L) {
          injected.incrementAndGet()
          throw new IllegalStateException("injected failure")
        }
        id
      }.asNondeterministic()
      FileSink(args(0), "json", Map("rollingCount" -> "10"))
        .writeBatch(spark.range(0, 100, 1, 2).select(boom(col("id")).as("id")))
      println(s"injected_failures=${injected.get()}")
    } finally spark.stop()
  }
}
