package graft

import graft.operators.Layout
import org.apache.spark.sql.functions._

/** Physical-layout contracts (SURVEY §4): salting spreads hot keys,
  * bucketing removes the join shuffle.
  */
class LayoutSpec extends SparkSuite {

  test("salted join: identical result set, hot key spread over salts") {
    // heavily skewed fact: 90% of rows on key 7
    val fact = spark.range(10000).toDF("i")
      .select(when(col("i") % 10 < 9, 7L).otherwise(col("i") % 100).as("k"),
        col("i").as("payload"))
    val dim = spark.range(100).toDF("k").withColumn("label", concat(lit("d"), col("k")))
    val plain = fact.join(dim, Seq("k")).agg(count(lit(1)), sum("payload")).first()
    val salted = Layout.saltedJoin(fact, dim, "k", saltFactor = 8)
      .agg(count(lit(1)), sum("payload")).first()
    assert(plain == salted, "salting must not change the join result")
    // the hot key's rows really get distinct salt values
    val salts = fact.withColumn("__salt", (rand(42) * 8).cast("int"))
      .where(col("k") === 7).select("__salt").distinct().count()
    assert(salts == 8)
  }

  test("outer salted join preserves unmatched rows exactly once") {
    val fact = spark.range(100).toDF("k").withColumn("v", col("k") * 2)
    val dim = spark.range(50).toDF("k").withColumn("label", lit("x"))
    val res = Layout.saltedJoin(fact, dim, "k", saltFactor = 4, joinType = "left")
    assert(res.count() == 100)
    assert(res.where(col("label").isNull).count() == 50)
  }

  test("salted join rejects dim-preserving join types") {
    // the dim side is replicated saltFactor x, so right/full outer would
    // emit every unmatched dim row saltFactor times — reject up front
    val fact = spark.range(10).toDF("k")
    val dim = spark.range(5).toDF("k")
    for (jt <- Seq("right", "right_outer", "full", "full_outer", "outer"))
      intercept[IllegalArgumentException](
        Layout.saltedJoin(fact, dim, "k", saltFactor = 4, joinType = jt))
    // left_semi / left_anti are fact-preserving and stay legal
    assert(Layout.saltedJoin(fact, dim, "k", joinType = "left_semi").count() == 5)
    assert(Layout.saltedJoin(fact, dim, "k", joinType = "left_anti").count() == 5)
  }

  test("bucketed tables join without a shuffle on either side") {
    val n = 1000
    Layout.writeBucketed(
      spark.range(n).toDF("k").withColumn("a", col("k") * 2), "graft_bkt_left", "k", 8)
    Layout.writeBucketed(
      spark.range(n).toDF("k").withColumn("b", col("k") + 1), "graft_bkt_right", "k", 8)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // force the sort-merge path (tiny test tables would broadcast) —
      // the property under test is "no ShuffleExchange on either side"
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = Layout.readBucketed(spark, "graft_bkt_left")
        .join(Layout.readBucketed(spark, "graft_bkt_right"), "k")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("ShuffleExchange") && !plan.contains("Exchange hashpartitioning"),
        s"bucketed equi-join must not shuffle:\n$plan")
      assert(plan.contains("SortMergeJoin"), plan)
      assert(joined.count() == n)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql("DROP TABLE IF EXISTS graft_bkt_left")
      spark.sql("DROP TABLE IF EXISTS graft_bkt_right")
    }
  }

  test("sharded export: stable content-addressed shards, bounded files, lossless") {
    import org.apache.spark.sql.functions.col
    val docs = Tables(spark, sf, "documents").select("doc_id", "text")
    val out = tempDir("graft_shards").toString
    try {
      Layout.exportShards(docs, out, "text", shards = 4, maxRecordsPerFile = 50)
      val back = spark.read.parquet(out)
      // lossless round trip
      assert(back.count() == docs.count())
      assert(back.select("doc_id").except(docs.select("doc_id")).isEmpty)
      // exactly the requested shard directories
      val dirs = new java.io.File(out).listFiles().filter(_.isDirectory)
        .map(_.getName).filter(_.startsWith("shard=")).sorted
      assert(dirs.length == 4, dirs.mkString(","))
      // every file respects the record cap
      val files = dirs.flatMap(d => new java.io.File(s"$out/$d").listFiles()
        .filter(_.getName.endsWith(".parquet")))
      files.foreach { f =>
        val n = spark.read.parquet(f.getAbsolutePath).count()
        assert(n <= 50, s"${f.getName} has $n rows")
      }
      // shard assignment is content-addressed: a re-export of a GROWN
      // corpus keeps the original rows in the same shards
      val out2 = tempDir("graft_shards2").toString
      try {
        Layout.exportShards(docs.unionByName(
          docs.limit(10).select((col("doc_id") + 900000).as("doc_id"),
            concat_ws(" ", col("text"), col("doc_id")).as("text"))),
          out2, "text", shards = 4, maxRecordsPerFile = 50)
        val m1 = back.select("doc_id", "shard").collect()
          .map(r => r.getLong(0) -> r.getInt(1)).toMap
        val m2 = spark.read.parquet(out2).select("doc_id", "shard").collect()
          .map(r => r.getLong(0) -> r.getInt(1)).toMap
        assert(m1.forall { case (id, s) => m2(id) == s },
          "unchanged rows must stay in their shard on re-export")
      } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(out2))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(out))
  }

  test("key histogram surfaces the skew") {
    val fact = spark.range(1000).toDF("i")
      .select(when(col("i") % 10 < 9, 7L).otherwise(col("i")).as("k"))
    val top = Layout.keyHistogram(fact, col("k"), 1).first()
    assert(top.getLong(0) == 7L && top.getLong(1) == 900L)
  }

  test("zipWithGlobalIndex equals a global sort's row_number at any partition count") {
    import spark.implicits._
    val data = new scala.util.Random(13).shuffle((1L to 5000L).toList)
      .map(i => (i, s"v$i")).toDF("k", "v")
    val want = data.orderBy(col("k")).collect().map(_.getLong(0)).zipWithIndex
      .map { case (k, i) => k -> (i + 1L) }.toMap
    for (parts <- Seq(3, 8)) {
      val got = Layout.zipWithGlobalIndex(data.repartition(parts), Seq(col("k")))
        .collect().map(r => r.getLong(0) -> r.getAs[Long]("pos")).toMap
      assert(got == want, s"at $parts input partitions")
    }
    // no single-partition global sort in the plan
    val plan = Layout.zipWithGlobalIndex(data, Seq(col("k")))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange SinglePartition"), plan.take(1500))
  }

  test("compactLog: last (ts, seq) wins per id; delete tombstones drop the id") {
    import spark.implicits._
    val log = Seq(
      // id 1: upsert v=1 then v=2 (same ts, higher seq wins), live
      (1L, 100L, 1L, "upsert", 1.0), (1L, 100L, 2L, "upsert", 2.0),
      // id 2: upsert then delete — gone
      (2L, 100L, 3L, "upsert", 9.0), (2L, 200L, 4L, "delete", 0.0),
      // id 3: delete then LATER upsert — resurrected
      (3L, 100L, 5L, "delete", 0.0), (3L, 200L, 6L, "upsert", 7.0)
    ).toDF("id", "ts", "seq", "op", "v")
    val snap = Layout.compactLog(log, "id", "ts", "seq", "op", "delete")
      .collect().map(r => r.getLong(0) -> (r.getLong(2), r.getDouble(4))).toMap
    assert(snap == Map(1L -> (2L, 2.0), 3L -> (6L, 7.0)), snap.toString)
    // a malformed record with op = null is NOT a delete — the id must
    // survive (a plain =!= would null out and silently drop it)
    val nullOp = Seq((9L, 100L, 1L, Option("upsert"), 1.0),
        (9L, 200L, 2L, None: Option[String], 3.0))
      .toDF("id", "ts", "seq", "op", "v")
    val kept = Layout.compactLog(nullOp, "id", "ts", "seq", "op", "delete")
      .collect()
    assert(kept.length == 1 && kept.head.getDouble(4) == 3.0, kept.mkString(","))
    // one partial-agg'd shuffle, no window/sort of the full log
    val plan = Layout.compactLog(log, "id", "ts", "seq", "op", "delete")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window") && !plan.contains("SortMergeJoin"), plan.take(1200))
  }

  test("zValue: hand-computed Morton codes; bit positions disjoint and complete") {
    import spark.implicits._
    // x=3 (011), y=5 (101) at 3 bits: interleaved z = y2 x2 y1 x1 y0 x0
    // = 1 0 0 1 1 1 = 32 + 4 + 2 + 1 = 39
    val row = Seq((3L, 5L)).toDF("x", "y")
      .select(Layout.zValue(Seq(col("x"), col("y")), 3).as("z")).first()
    assert(row.getLong(0) == 39L, s"got ${row.getLong(0)}")
    // exhaustiveness: over the full 4-bit × 4-bit grid the z values
    // are a bijection onto [0, 256)
    val grid = spark.range(16).toDF("x")
      .crossJoin(spark.range(16).toDF("y"))
      .select(Layout.zValue(Seq(col("x"), col("y")), 4).as("z"))
    assert(grid.distinct().count() == 256)
    assert(grid.agg(min("z"), max("z")).first() ==
      org.apache.spark.sql.Row(0L, 255L))
  }

  test("zorderAudit: correlated data yields narrow per-bucket spans; ranges clamp") {
    import spark.implicits._
    // two perfectly correlated columns: a z-bucket covers ~1/16 of
    // BOTH ranges, so every bucket span must be far below the global
    val n = 4096L
    val data = spark.range(n).toDF("a").withColumn("b", col("a") * 3 + 7)
    val audit = Layout.zorderAudit(data, Seq("a", "b"),
      bits = 8, bucketBits = 4).collect()
    // perfect correlation → identical grid coords → only the 4
    // "diagonal" buckets (b-bit == a-bit in the interleave) occur;
    // each covers one quarter of BOTH ranges
    assert(audit.length == 4, audit.mkString(","))
    assert(audit.map(_.getLong(1)).sum == n)
    audit.foreach { r =>
      val spanA = r.getLong(3) - r.getLong(2)
      val spanB = r.getLong(5) - r.getLong(4)
      // quarter boundaries land on grid-cell edges (255 cells over a
      // 4096 range → ~16.06 values/cell), so allow one cell of slack
      assert(spanA <= n / 4 + 17 && spanB <= 3 * (n / 4 + 17),
        s"bucket ${r.getLong(0)} spans a=$spanA b=$spanB — not clustered")
    }
    // constant column (hi == lo): the zero-span guard keeps the grid
    // at 0 instead of dividing by zero
    val const = spark.range(100).toDF("a").withColumn("b", lit(42L))
    val one = Layout.zorderAudit(const, Seq("a", "b"), bits = 4, bucketBits = 2)
      .agg(sum("n_rows")).first().getLong(0)
    assert(one == 100L)
    // a fractional-range column keeps FULL grid resolution — the old
    // greatest(span, 1) clamp collapsed any range below 1.0 into a
    // handful of cells and degenerated the interleave
    val frac = spark.range(1000).toDF("i")
      .select((col("i") / 100000.0).as("a"), col("i").as("b")) // a spans [0, 0.01)
    val fracBuckets = Layout.zorderAudit(frac, Seq("a", "b"),
      bits = 8, bucketBits = 4).count()
    assert(fracBuckets >= 4,
      s"sub-1.0 range must still spread across z buckets, got $fracBuckets")
  }

  test("zorder rejects inputs whose columns collide with the reserved stats names") {
    import spark.implicits._
    // lo_a/hi_a ride in on the broadcast stats row — a same-named
    // input column would make every grid reference ambiguous
    val clash = spark.range(10).toDF("a").withColumn("lo_a", col("a"))
    val e1 = intercept[IllegalArgumentException](
      Layout.zorderAudit(clash, Seq("a"), bits = 4, bucketBits = 2))
    assert(e1.getMessage.contains("lo_a"))
    val zb = spark.range(10).toDF("a").withColumn("z_bucket", col("a"))
    intercept[IllegalArgumentException](
      Layout.zorderAudit(zb, Seq("a"), bits = 4, bucketBits = 2))
    val zz = spark.range(10).toDF("a").withColumn("__z", col("a"))
    intercept[IllegalArgumentException](
      Layout.zorderCluster(zz, Seq("a"), bits = 4))
  }

  test("zorderCluster: lossless, and files cover disjoint z ranges") {
    import spark.implicits._
    val data = spark.range(2048).toDF("a")
      .withColumn("b", pmod(col("a") * 37, lit(2048L)))
    val clustered = Layout.zorderCluster(data, Seq("a", "b"),
      bits = 8, partitions = 8)
    // same multiset of rows, helper columns dropped
    assert(clustered.columns.toSeq == Seq("a", "b"))
    assert(clustered.exceptAll(data).isEmpty && data.exceptAll(clustered).isEmpty)
    // each output partition holds a contiguous z range: partition
    // max < next partition's min (range partitioning on __z)
    val zb = clustered
      .withColumn("pid", spark_partition_id())
      .groupBy("pid")
      .agg(min(Layout.zValue(Seq(
          Layout.zorderGrid(col("a"), lit(0L), lit(2047L), 8),
          Layout.zorderGrid(col("b"), lit(0L), lit(2047L), 8)), 8)).as("zmin"),
        max(Layout.zValue(Seq(
          Layout.zorderGrid(col("a"), lit(0L), lit(2047L), 8),
          Layout.zorderGrid(col("b"), lit(0L), lit(2047L), 8)), 8)).as("zmax"))
      .orderBy("pid").collect()
    zb.sliding(2).foreach {
      case Array(p, q) =>
        assert(p.getLong(2) <= q.getLong(1),
          s"partitions ${p.getInt(0)} and ${q.getInt(0)} overlap in z")
      case _ => ()
    }
  }
}
