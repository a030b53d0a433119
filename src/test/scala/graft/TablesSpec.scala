package graft

import java.nio.file.Files

import org.apache.commons.io.FileUtils
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampType}

/** `Tables` resolves a table's parquet schema once per session per file
  * set: later reads launch no schema-inference job, read the same data
  * as a fresh inferring read, and a table rewritten in place is inferred
  * again.
  */
class TablesSpec extends SparkSuite {
  private def jobs(body: => Unit): Int = JobCounter(spark.sparkContext)(body)._2.jobs

  private def withTempDir(body: String => Unit): Unit = {
    val dir = tempDir("graft-tables").toFile
    try body(dir.getPath) finally FileUtils.deleteDirectory(dir)
  }

  /** An `events` table whose `ts` is TIMESTAMP(NANOS), which Spark reads
    * only as a long.
    */
  private def writeNanosEvents(dir: String): Unit = {
    val schema = MessageTypeParser.parseMessageType(
      "message events { required int64 event_id; required int64 ts (TIMESTAMP(NANOS,false)); }")
    val w = ExampleParquetWriter.builder(new Path(s"$dir/events.parquet"))
      .withType(schema).withConf(spark.sparkContext.hadoopConfiguration).build()
    val rows = new SimpleGroupFactory(schema)
    try (0 until 5).foreach(i =>
      w.write(rows.newGroup().append("event_id", i.toLong)
        .append("ts", 1700000000000000000L + i * 1234567000L)))
    finally w.close()
  }

  test("the first read of a table in a session infers its schema in one job; later reads run none") {
    // a session of its own: the shared one may have read these tables already
    val s = spark.newSession()
    Tables.all.foreach { n =>
      assert(jobs(Tables(s, sf, n)) == 1, s"first read of $n")
      assert(jobs(Tables(s, sf, n)) == 0, s"second read of $n")
    }
  }

  test("a memoized read has the schema and data of a fresh inferring read") {
    def check(dir: String, n: String): Unit = {
      Tables(spark, dir, n) // memoizes the schema and sets the nanos-as-long read
      val memo = Tables(spark, dir, n)
      val raw = spark.read.parquet(s"$dir/$n.parquet")
      val fresh =
        if (n == "events" && raw.schema("ts").dataType == LongType)
          raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
        else raw
      assert(memo.schema == fresh.schema, n)
      assert(Goldens.fingerprint(memo) == Goldens.fingerprint(fresh), n)
    }
    Tables.all.foreach(check(sf, _))
    withTempDir { dir =>
      writeNanosEvents(dir)
      check(dir, "events")
      val ev = Tables(spark, dir, "events")
      assert(ev.schema("ts").dataType == TimestampType)
      assert(ev.orderBy("event_id").select(unix_micros(col("ts"))).collect().map(_.getLong(0)).toSeq ==
        (0 until 5).map(i => 1700000000000000L + i * 1234567L))
    }
  }

  test("a table rewritten in place with another schema is read with the new schema") {
    withTempDir { dir =>
      val path = s"$dir/t.parquet"
      spark.range(3).select(col("id").cast("int").as("a"))
        .write.mode("overwrite").parquet(path)
      assert(Tables(spark, dir, "t").schema.fieldNames.toSeq == Seq("a"))
      spark.range(3).select(col("id").cast("string").as("b"), (col("id") * 0.5).as("c"))
        .write.mode("overwrite").parquet(path)
      val t = Tables(spark, dir, "t")
      assert(t.schema.fieldNames.toSeq == Seq("b", "c"))
      assert(t.orderBy("c").collect().map(r => (r.getString(0), r.getDouble(1))).toSeq ==
        Seq(("0", 0.0), ("1", 0.5), ("2", 1.0)))
    }
  }
}
