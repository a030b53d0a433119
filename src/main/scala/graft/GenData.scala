package graft

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/** Scale-rehearsal data generator: writes an sfN-shaped copy of the
  * driver's synthetic star schema (TESTDATA.md) to a target dir, with
  * row counts, schemas, value domains and join-key ranges matching the
  * driver's generator at the requested scale factor. Used for the 10x
  * (sf1) rehearsal — the read-only /root/testdata dirs stop at sf0.1.
  *
  * Everything is a deterministic function of the row id (xxhash64-based
  * uniforms), so the data is reproducible without RNG state and the
  * generation itself is an embarrassingly-parallel Spark job — the same
  * shape a 100 TB backfill would use (spark.range is split across
  * executors; no driver-side materialization).
  *
  * Usage: runMain graft.GenData <outDir> <sf> — e.g. /tmp/sf1 1.0
  */
object GenData {
  /** uniform double in [0,1) from (id, salt) — deterministic, codegen'd */
  private def u(id: org.apache.spark.sql.Column, salt: Int) =
    (pmod(xxhash64(id, lit(salt)), lit(1000000L)).cast("double") / 1000000.0)

  def main(args: Array[String]): Unit = {
    val outDir = args.headOption.getOrElse("/tmp/sf1")
    val sf = args.lift(1).map(_.toDouble).getOrElse(1.0)
    val cpus = LocalSession.cpus("32")
    val spark = LocalSession(cpus)
    import spark.implicits._

    val nOrders = (1500000 * sf).toLong
    val nLine = (6000000 * sf).toLong
    val nCust = (150000 * sf).toLong
    val nPart = (200000 * sf).toLong
    val nSupp = (10000 * sf).toLong
    val nEvents = (1000000 * sf).toLong
    val nDocs = (50000 * sf).toLong
    val nEmb = (20000 * sf).toLong

    def save(df: DataFrame, name: String): Unit = {
      df.write.mode(SaveMode.Overwrite).parquet(s"$outDir/$name.parquet")
      println(s"[gen] wrote $name")
    }

    // region / nation: fixed tiny dims — same shape as the driver's.
    val regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
    save(regions.zipWithIndex.map { case (n, i) => (i, n) }
      .toDF("r_regionkey", "r_name"), "region")
    save((0 until 25).map(i => (i, s"NATION_$i", i % 5))
      .toDF("n_nationkey", "n_name", "n_regionkey"), "nation")

    val parts = cpus.toInt * 4
    def range(n: Long) = spark.range(0, n, 1, parts)

    save(range(nCust).select(
      $"id".as("c_custkey"),
      concat(lit("Customer#"), $"id").as("c_name"),
      pmod(xxhash64($"id", lit(1)), lit(25L)).cast("int").as("c_nationkey"),
      round(u($"id", 2) * 11000.0 - 1000.0, 2).as("c_acctbal"),
      element_at(
        lit(Array("MACHINERY", "HOUSEHOLD", "AUTOMOBILE", "FURNITURE", "BUILDING")),
        (pmod(xxhash64($"id", lit(3)), lit(5L)) + 1).cast("int")).as("c_mktsegment")
    ), "customer")

    save(range(nSupp).select(
      $"id".as("s_suppkey"),
      concat(lit("Supplier#"), $"id").as("s_name"),
      pmod(xxhash64($"id", lit(4)), lit(25L)).cast("int").as("s_nationkey"),
      round(u($"id", 5) * 11000.0 - 1000.0, 2).as("s_acctbal")
    ), "supplier")

    val brands = lit((1 to 25).map(i => s"Brand#$i").toArray)
    val types = lit(Array("STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO"))
    save(range(nPart).select(
      $"id".as("p_partkey"),
      concat(lit("part "), $"id").as("p_name"),
      element_at(brands, (pmod(xxhash64($"id", lit(6)), lit(25L)) + 1).cast("int")).as("p_brand"),
      element_at(types, (pmod(xxhash64($"id", lit(7)), lit(6L)) + 1).cast("int")).as("p_type"),
      (pmod(xxhash64($"id", lit(8)), lit(50L)) + 1).cast("int").as("p_size"),
      round(u($"id", 9) * 2000.0 + 100.0, 2).as("p_retailprice")
    ), "part")

    val prios = lit(Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))
    save(range(nOrders).select(
      $"id".as("o_orderkey"),
      pmod(xxhash64($"id", lit(10)), lit(nCust)).as("o_custkey"),
      element_at(lit(Array("O", "P", "F")),
        (pmod(xxhash64($"id", lit(11)), lit(3L)) + 1).cast("int")).as("o_orderstatus"),
      round(u($"id", 12) * 50000.0 + 1000.0, 2).as("o_totalprice"),
      // orderdate: 1995-01-01 + [0, 2400) days
      to_timestamp(date_add(lit("1995-01-01").cast("date"),
        pmod(xxhash64($"id", lit(13)), lit(2400L)).cast("int"))).as("o_orderdate"),
      element_at(prios, (pmod(xxhash64($"id", lit(14)), lit(5L)) + 1).cast("int")).as("o_orderpriority")
    ), "orders")

    save(range(nLine).select(
      // ~4 lines/order on average, like the driver's (orderkey uniform over orders)
      pmod(xxhash64($"id", lit(20)), lit(nOrders)).as("l_orderkey"),
      pmod(xxhash64($"id", lit(21)), lit(nPart)).as("l_partkey"),
      pmod(xxhash64($"id", lit(22)), lit(nSupp)).as("l_suppkey"),
      (pmod(xxhash64($"id", lit(23)), lit(7L)) + 1).cast("int").as("l_linenumber"),
      (pmod(xxhash64($"id", lit(24)), lit(50L)) + 1).cast("double").as("l_quantity"),
      round(u($"id", 25) * 10000.0 + 100.0, 2).as("l_extendedprice"),
      round(pmod(xxhash64($"id", lit(26)), lit(11L)).cast("double") / 100.0, 2).as("l_discount"),
      round(pmod(xxhash64($"id", lit(27)), lit(9L)).cast("double") / 100.0, 2).as("l_tax"),
      element_at(lit(Array("A", "N", "R")),
        (pmod(xxhash64($"id", lit(28)), lit(3L)) + 1).cast("int")).as("l_returnflag"),
      element_at(lit(Array("F", "O")),
        (pmod(xxhash64($"id", lit(29)), lit(2L)) + 1).cast("int")).as("l_linestatus"),
      to_timestamp(date_add(lit("1995-01-02").cast("date"),
        pmod(xxhash64($"id", lit(30)), lit(2498L)).cast("int"))).as("l_shipdate")
    ), "lineitem")

    save(range(nEvents).select(
      $"id".as("event_id"),
      // increasing ts from 2024-01-01, mean inter-arrival ~36 s (like sf0.1)
      timestamp_micros(lit(1704067200000000L) + $"id" * 36000000L +
        pmod(xxhash64($"id", lit(31)), lit(30000000L))).as("ts"),
      pmod(xxhash64($"id", lit(32)), lit((15000 * sf).toLong.max(10L))).as("user_id"),
      element_at(lit(Array("click", "view", "purchase", "signup", "error")),
        (pmod(xxhash64($"id", lit(33)), lit(5L)) + 1).cast("int")).as("event_type"),
      round(u($"id", 34) * 200.0, 2).as("value"),
      concat(lit("{\"k\": "), pmod(xxhash64($"id", lit(35)), lit(100L)), lit("}")).as("props")
    ), "events")

    // documents: word sequences over the driver's 31-word vocab; ~0.3%
    // of docs are exact duplicates of an earlier doc (same planted-dup
    // rate as sf0.1), which also yields near-dup shingle overlap.
    val vocab = lit(Array("a", "agg", "batch", "big", "column", "customer", "data",
      "dup", "fast", "filter", "group", "hash", "join", "key", "line", "merge",
      "order", "part", "query", "row", "scan", "slow", "small", "sort", "spark",
      "stream", "table", "the", "value", "vector", "window"))
    val docs = range(nDocs).select($"id".as("doc_id"),
      // dup: 0.3% of docs clone the text of doc (id % 97)
      when(u($"id", 40) < 0.003, pmod($"id", lit(97L))).otherwise($"id").as("seed"))
      .select($"doc_id",
        array_join(transform(sequence(lit(0),
          (pmod(xxhash64($"seed", lit(41)), lit(90L)) + 8).cast("int")),
          i => element_at(vocab,
            (pmod(xxhash64($"seed" * 131, i, lit(42)), lit(31L)) + 1).cast("int"))),
          " ").as("text"),
        element_at(lit(Array("en", "en", "en", "en", "zh", "es", "de", "fr")),
          (pmod(xxhash64($"doc_id", lit(43)), lit(8L)) + 1).cast("int")).as("lang"),
        concat(lit("src"), pmod(xxhash64($"doc_id", lit(44)), lit(20L))).as("source"))
      .withColumn("n_chars", length($"text"))
    save(docs, "documents")

    // embeddings: 64-dim unit-ish vectors clustered around 10 label
    // centroids (center +/- noise), matching the driver's label/cluster
    // structure that the IVF/LSH recall specs rely on.
    val dim = 64
    val emb = range(nEmb).select(
      $"id".as("vec_id"),
      pmod(xxhash64($"id", lit(50)), lit(10L)).cast("int").as("label"))
      .select($"vec_id", $"label",
        transform(sequence(lit(0), lit(dim - 1)), i =>
          ((pmod(xxhash64($"label", i, lit(51)), lit(2000L)).cast("double") / 1000.0 - 1.0) * 0.3 +
           (pmod(xxhash64($"vec_id", i, lit(52)), lit(2000L)).cast("double") / 1000.0 - 1.0) * 0.12
          ).cast("float")).as("embedding"))
    save(emb.select($"vec_id", $"embedding", $"label"), "embeddings")

    println(s"[gen] done: $outDir sf=$sf")
    spark.stop()
  }
}
