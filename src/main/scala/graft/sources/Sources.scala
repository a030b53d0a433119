package graft.sources

import graft.TempDirs
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Source abstraction (SURVEY §2.6). The reference (lf-edge/ekuiper
  * `internal/io`) exposes every connector as a stream of decoded
  * rows; graft maps each onto a Spark DataFrame (batch "scan table"
  * semantics) and/or a Structured Streaming readStream (stream
  * semantics), so a rule's plan is identical in both modes and
  * scales with executors instead of a single reader goroutine.
  */
trait Source {
  /** Bounded read — eKuiper "table" semantics. */
  def batch(spark: SparkSession): DataFrame
  /** Unbounded read — eKuiper "stream" semantics. */
  def stream(spark: SparkSession): DataFrame
}

/** File source: json / csv / lines / parquet, batch + streaming.
  * Reference: internal/io/file/source.go (json, csv, lines decoding);
  * unlike the reference's single-reader tail loop, directories are
  * listed and split across executors, and new files are picked up
  * per micro-batch.
  *
  * `lines` is the reference's raw-line format: one string column
  * `value` per input line.
  */
final case class FileSource(path: String, format: String = "json",
                            schema: Option[StructType] = None,
                            options: Map[String, String] = Map.empty) extends Source {
  require(Seq("json", "csv", "lines", "parquet", "binary").contains(format),
    s"unsupported file format $format")

  def batch(spark: SparkSession): DataFrame = {
    val r = spark.read.options(options)
    format match {
      case "lines" => r.text(path).withColumnRenamed("text", "value")
      case "json" => schema.fold(r.json(path))(s => r.schema(s).json(path))
      case "csv" =>
        val rr = r.option("header", options.getOrElse("header", "true"))
        schema.fold(rr.option("inferSchema", "true").csv(path))(s => rr.schema(s).csv(path))
      case "parquet" => schema.fold(r.parquet(path))(s => r.schema(s).parquet(path))
      // whole-file payloads (reference "binary" format): (path, modTime,
      // length, content) — the multimodal operators consume `content`
      case "binary" => r.format("binaryFile").load(path)
    }
  }

  def stream(spark: SparkSession): DataFrame = {
    val r = spark.readStream.options(options)
    // schemaless streams (eKuiper's default): infer once from the files
    // already present, then tail the directory with that schema
    def need = schema.getOrElse(
      try batch(spark).schema
      catch { case e: Exception => throw new IllegalArgumentException(
        s"streaming $format needs a schema or at least one existing file to infer from", e) })
    format match {
      case "lines" => r.text(path).withColumnRenamed("text", "value")
      case "json" => r.schema(need).json(path)
      case "csv" =>
        r.option("header", options.getOrElse("header", "true")).schema(need).csv(path)
      case "parquet" => schema.fold(r.parquet(path))(s => r.schema(s).parquet(path))
      case "binary" =>
        r.format("binaryFile").schema(StructType.fromDDL(
          "path string, modificationTime timestamp, length bigint, content binary"))
          .load(path)
    }
  }
}

/** Memory source: rows registered in-process (eKuiper memory source —
  * rule-to-rule hand-off). Batch = the registered frame; stream =
  * readStream over the topic's parquet spool, so a downstream
  * streaming rule picks up every batch an upstream rule's MemorySink
  * publishes (the reference's rule-pipeline pattern,
  * internal/io/memory/pubsub).
  */
final case class MemorySource(topic: String) extends Source {
  def batch(spark: SparkSession): DataFrame = MemoryHub.frame(spark, topic)
  def stream(spark: SparkSession): DataFrame = {
    val schema = MemoryHub.topicSchema(spark, topic).getOrElse(
      throw new IllegalStateException(
        s"memory topic $topic has no schema yet - publish a frame or spool a batch first"))
    spark.readStream.schema(schema).parquet(MemoryHub.spoolDir(topic))
  }
}

/** Process-wide registry backing MemorySource/MemorySink — the Spark
  * analog of the reference's in-process pub/sub
  * (internal/io/memory/pubsub). Two layers:
  *  - a driver-side registry of (lazy, distributed) DataFrames for
  *    batch hand-off;
  *  - a parquet spool directory per topic for streaming hand-off —
  *    executors write, downstream readStream tails it; no row ever
  *    passes through the driver.
  */
object MemoryHub {
  private val topics = new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()
  private val spools = new java.util.concurrent.ConcurrentHashMap[String, java.nio.file.Path]()
  private val appends = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Integer]()

  /** Collapse the topic's union tree every N appends: a long-running
    * chained rule otherwise accretes one unionByName node per batch and
    * batch-read planning slows linearly. localCheckpoint materializes
    * the accumulated rows and truncates the lineage; its blocks are
    * reclaimed by the ContextCleaner when the old frame is replaced.
    */
  private val CollapseEvery = 16

  def publish(topic: String, df: DataFrame): Unit = {
    topics.put(topic, df); appends.remove(topic)
  }
  def append(topic: String, df: DataFrame): Unit = {
    topics.merge(topic, df, (a, b) => a.unionByName(b))
    val n = appends.merge(topic, Int.box(1), (a, b) => Int.box(a + b))
    if (n % CollapseEvery == 0)
      topics.computeIfPresent(topic, (_, f) => f.localCheckpoint(true))
  }
  def frame(spark: SparkSession, topic: String): DataFrame =
    Option(topics.get(topic)).getOrElse(
      throw new NoSuchElementException(s"memory topic $topic"))
  def exists(topic: String): Boolean = topics.containsKey(topic)
  /** Forget the topic and delete its spool directory. */
  def drop(topic: String): Unit = { topics.remove(topic); Option(spools.remove(topic)).foreach(TempDirs.delete) }

  /** Stable spool directory for a topic's streaming hand-off, kept until `drop` or JVM exit. */
  def spoolDir(topic: String): String =
    spools.computeIfAbsent(topic, t => TempDirs.create(s"graft_hub_${t.replaceAll("\\W", "_")}_")).toString

  /** Append a batch to the topic's spool (called by MemorySink). */
  def spool(topic: String, df: DataFrame): Unit =
    df.write.mode("append").parquet(spoolDir(topic))

  private[sources] def topicSchema(spark: SparkSession, topic: String) =
    Option(topics.get(topic)).map(_.schema).orElse(
      scala.util.Try(spark.read.parquet(spoolDir(topic)).schema).toOption)
}

/** Simulator source (reference: internal/io/simulator): replays a seed
  * list of JSON rows, optionally looping, at a fixed interval. The
  * streaming form rides Spark's rate source (1 row per interval tick)
  * and indexes into the seed list — deterministic content, real
  * event-time column `ts`.
  */
final case class SimulatorSource(seedJson: Seq[String], intervalMs: Long = 1000,
                                 schema: StructType, loop: Boolean = true)
    extends Source with LookupCapable {
  def batch(spark: SparkSession): DataFrame =
    spark.read.schema(schema).json(
      spark.createDataset(seedJson)(org.apache.spark.sql.Encoders.STRING))

  /** eKuiper Lookup(fields, keys, values) over the seed rows
    * (reference internal/io/simulator/lookupSource.go Lookup). The
    * reference OR-matches keys and can emit a row once per matching
    * key; graft keeps the equality-AND semantics every other lookup
    * source here uses — that is what the SQL join the table feeds
    * means.
    */
  def lookup(spark: SparkSession, fields: Seq[String],
             keys: Seq[String], values: Seq[Any]): DataFrame =
    lookupByFilter(spark, fields, keys, values)

  def stream(spark: SparkSession): DataFrame = {
    val n = seedJson.size
    val seeds = typedlit(seedJson)
    val rps = math.max(1, 1000 / math.max(1, intervalMs))
    val rate = spark.readStream.format("rate")
      .option("rowsPerSecond", rps).load()
    val idx = if (loop) pmod(col("value"), lit(n)) else col("value")
    rate.where(if (loop) lit(true) else col("value") < n)
      .select(col("timestamp").as("ts"),
        from_json(element_at(seeds, (idx + 1).cast("int")), schema).as("m"))
      .select(col("ts"), col("m.*"))
  }
}

/** Nexmark generator (reference: internal/io/nexmark — Person,
  * Auction, Bid event streams): generated deterministically from the
  * row index so every executor produces identical data given the same
  * offsets. Batch form generates `count` events via range() — fully
  * parallel, no driver-side loop; streaming rides the rate source.
  */
final case class NexmarkSource(kind: String = "bid", count: Long = 10000,
                               rowsPerSecond: Long = 1000) extends Source {
  require(Seq("bid", "auction", "person").contains(kind), s"unknown nexmark kind $kind")

  private def h(i: Int): org.apache.spark.sql.Column = pmod(xxhash64(col("id"), lit(i)), lit(1L << 40))

  private def shape(base: DataFrame): DataFrame = kind match {
    case "bid" => base.select(
      (lit(1000) + pmod(col("id"), lit(997))).as("auction"),
      (lit(2000) + pmod(h(0), lit(501)).cast("long")).as("bidder"),
      (lit(100) + pmod(h(1), lit(9901)).cast("long")).as("price"),
      concat(lit("channel-"), pmod(h(2), lit(10))).as("channel"),
      col("ts"))
    case "auction" => base.select(
      (lit(1000) + col("id")).as("id"),
      concat(lit("item-"), pmod(h(0), lit(1000))).as("item_name"),
      (lit(10) + pmod(h(1), lit(990)).cast("long")).as("initial_bid"),
      (lit(1000) + pmod(h(2), lit(9000)).cast("long")).as("reserve"),
      (lit(2000) + pmod(h(3), lit(501)).cast("long")).as("seller"),
      pmod(h(4), lit(10)).cast("long").as("category"),
      col("ts"), (col("ts") + expr("INTERVAL 1 HOUR")).as("expires"))
    case "person" => base.select(
      (lit(2000) + col("id")).as("id"),
      concat(lit("person-"), col("id")).as("name"),
      concat(lit("p"), col("id"), lit("@example.com")).as("email"),
      concat(lit("city-"), pmod(h(0), lit(50))).as("city"),
      concat(lit("state-"), pmod(h(1), lit(10))).as("state"),
      col("ts"))
  }

  def batch(spark: SparkSession): DataFrame =
    shape(spark.range(count).toDF("id")
      .withColumn("ts", timestamp_millis(lit(1700000000000L) + col("id") * 100)))

  def stream(spark: SparkSession): DataFrame =
    shape(spark.readStream.format("rate")
      .option("rowsPerSecond", rowsPerSecond).load()
      .select(col("value").as("id"), col("timestamp").as("ts")))
}

/** Back-compat alias for the bid stream. */
object NexmarkBidSource {
  def apply(count: Long = 10000, rowsPerSecond: Long = 1000): NexmarkSource =
    NexmarkSource("bid", count, rowsPerSecond)
}

/** Random source (reference: extensions/impl/random — a `pattern` map
  * of integer bases, each tick emitting base + rand(seed), optional
  * dedup of the last N emissions). Spark-first: the "random" draw is a
  * per-row hash (xxhash64 of row id and field name, mod seed), so
  * generation is pure, DISTRIBUTED, and replayable from offsets —
  * unlike the reference's process-local math/rand, identical across
  * executors and retries.
  */
final case class RandomSource(pattern: Map[String, Int], seed: Int,
                              count: Long = 1000, rowsPerSecond: Long = 10,
                              deduplicate: Int = 0) extends Source {
  require(seed > 0, s"source `random` property `seed` must be a positive integer but got $seed")
  require(pattern.nonEmpty, "random source needs a non-empty pattern")

  private def shape(base: DataFrame): DataFrame = {
    val fields = pattern.toSeq.sortBy(_._1).map { case (name, v) =>
      (lit(v) + pmod(xxhash64(col("id"), lit(name)), lit(seed.toLong))).cast("long").as(name)
    }
    base.select((col("ts") +: fields): _*)
  }

  def batch(spark: SparkSession): DataFrame = {
    val df = shape(spark.range(count).toDF("id")
      .withColumn("ts", timestamp_millis(lit(1700000000000L) + col("id") * 1000)))
    // reference Deduplicate: drop rows repeating an earlier emission
    if (deduplicate != 0) df.dropDuplicates(pattern.keys.toSeq) else df
  }

  def stream(spark: SparkSession): DataFrame =
    shape(spark.readStream.format("rate").option("rowsPerSecond", rowsPerSecond)
      .load().select(col("value").as("id"), col("timestamp").as("ts")))
}

/** Connector sources (mqtt / http_pull / http_push / websocket / sse /
  * redis / edgex / neuron / kafka / zmq / sql). With a SERVER option,
  * mqtt / websocket / redis / edgex / kafka / zmq / neuron ride REAL
  * wire-protocol clients (graft.net) — edgex unwraps the message-bus
  * JSON envelope from its mqtt/redis bus ([[Edgex]]), neuron speaks SP
  * PAIR ([[graft.net.NngPair]]). Without SERVER the transport layer is
  * a deterministic STUB: frames are taken from an injectable in-memory
  * feed (tests push frames). Everything after the transport — payload
  * decoding to the declared schema, batch/stream plumbing — is real
  * Spark code either way.
  *
  * Reference: internal/io/mqtt/source.go, internal/io/http,
  * internal/io/edgex, internal/io/redis, internal/io/websocket.
  */
final case class ConnectorSource(kind: String, topic: String,
                                 schema: StructType,
                                 options: Map[String, String] = Map.empty) extends Source {
  require(ConnectorSource.kinds.contains(kind), s"unknown connector $kind")

  private val format = options.getOrElse("format", "json").toLowerCase
  require(Codecs.formats.contains(format),
    s"unknown payload format '$format' (expected one of ${Codecs.formats.mkString(", ")})")

  /** With a SERVER DDL option the transport is REAL: a long-lived
    * subscriber ([[graft.net.FeedBridges]]) connects to the broker and
    * pushes every received frame into this feed, so broker messages
    * flow to the rule as micro-batches (reference model: one
    * subscriber connection per stream, internal/io/mqtt/source.go).
    * Without SERVER the feed stays test-injectable via
    * [[ConnectorFeed.push]].
    */
  private def ensureTransport(): Unit =
    options.get("server").foreach(server =>
      graft.net.FeedBridges.ensure(kind, topic, server, options))

  /** Declared schema, or — for schemaless JSON streams (eKuiper's
    * default: `CREATE STREAM x () WITH (TYPE="mqtt", ...)`) — one
    * inferred from the frames already pushed to the feed, the same
    * contract as FileSource's schemaless streaming.
    */
  private def effectiveSchema(spark: SparkSession): StructType =
    if (schema.nonEmpty) schema
    else {
      require(format == "json",
        s"schemaless connector streams are json-only; declare fields for format '$format'")
      val frames = ConnectorFeed.frames(spark, kind, topic)
        .select(col("frame").as("value"))
      require(!frames.isEmpty,
        s"schemaless $kind stream '$topic' needs at least one pushed frame to infer from")
      spark.read.json(frames.as(org.apache.spark.sql.Encoders.STRING)).schema
    }

  /** Decode raw frames (json / delimited / urlencoded, per FORMAT) from
    * the stub transport to typed rows — a pure codegen projection.
    * With meta="true" a `__meta` map column (kind/topic/arrival_ms)
    * rides along for the SQL meta() function (reference
    * funcs_misc.go meta()).
    */
  private def decode(spark: SparkSession, raw: DataFrame): DataFrame = {
    val base = raw.select(
        Codecs.decode(col("frame"), effectiveSchema(spark), format,
          options.getOrElse("delimiter", ",")).as("m"),
        col("arrival_ts"))
      .select(col("m.*"), col("arrival_ts"))
    if (options.get("meta").contains("true"))
      base.withColumn("__meta", map(
        lit("kind"), lit(kind),
        lit("topic"), lit(topic),
        lit("arrival_ms"), unix_millis(col("arrival_ts")).cast("string")))
    else base
  }

  def batch(spark: SparkSession): DataFrame = {
    ensureTransport()
    decode(spark, ConnectorFeed.frames(spark, kind, topic))
  }

  /** Real unbounded stream: a micro-batch source over the feed's
    * in-memory log ([[ConnectorFeedProvider]]), so a streaming rule sees
    * the frames pushed since its last batch as the next micro-batch.
    */
  def stream(spark: SparkSession): DataFrame = {
    ensureTransport()
    decode(spark, ConnectorFeed.frameStream(spark, kind, topic))
  }
}

object ConnectorSource {
  val kinds: Set[String] =
    Set("mqtt", "http_pull", "http_push", "websocket", "sse", "redis", "neuron", "edgex", "kafka",
      "sql", "zmq", "portable") // portable: frames pushed by a plugin process
}
