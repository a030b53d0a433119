package graft.sinks

import graft.streaming.{LocalCheckpointFileManager, LocalFiles}
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}

/** Sink abstraction (SURVEY §2.7). Mirrors the reference's sink
  * contract (docs/en_US/guide/sinks): every sink receives each result
  * batch, optionally reshaped by a data template and batched. Batch
  * rules call deliver once; streaming rules go through [[Sink.fanOut]].
  *
  * Common features implemented once in `Sink`:
  *  - dataTemplate: `{{field}}` substitution producing one formatted
  *    string per row (reference: sink dataTemplate).
  *  - fields projection ("sendSingle" style column pruning).
  */
trait Sink {
  def options: Map[String, String]

  /** Whether writeBatch's action pulls EVERY input row (true for
    * file/memory/nop/connector sinks). RuleEngine attaches its
    * observe()-based row counter only to such a sink — a capped sink
    * like LogSink short-circuits the scan and would undercount.
    */
  def consumesAllRows: Boolean = true

  /** Apply common sink features to the outgoing frame. */
  protected def shaped(df: DataFrame): DataFrame = {
    require(!(options.contains("fields") && options.contains("excludeFields")),
      "field and excludeFields cannot both be set") // reference transform_op.go:57
    // dataField (reference transform/template.go:44-61): the sink sends
    // only this field's content — a struct column expands to its own
    // fields (the reference's nested-map case), a scalar sends as-is
    val based = options.get("dataField") match {
      case Some(f) => df.schema(f.trim).dataType match {
        case _: org.apache.spark.sql.types.StructType => df.select(col(f.trim + ".*"))
        case _ => df.select(col(f.trim))
      }
      case None => df
    }
    val projected = options.get("fields") match {
      case Some(fs) => based.select(fs.split(",").map(f => col(f.trim)).toIndexedSeq: _*)
      case None => options.get("excludeFields") match {
        case Some(xs) => based.drop(xs.split(",").map(_.trim).toIndexedSeq: _*)
        case None => based
      }
    }
    options.get("dataTemplate") match {
      case Some(tpl) =>
        // {{a}} -> value of column a, rendered row-wise; pure Column
        // expression so templating runs distributed, not on the driver.
        val parts = Sink.templateParts(tpl)
        val rendered = parts.map {
          case Left(lit0) => lit(lit0)
          case Right(field) => coalesce(projected(field).cast("string"), lit(""))
        }
        projected.select(concat(rendered: _*).as("payload"))
      case None => projected
    }
  }

  /** One bounded result set (batch rule, or one micro-batch). */
  def writeBatch(df: DataFrame): Unit

  /** Delivery entry point the engine calls: honors the reference's
    * `omitIfEmpty` sink prop (internal/topo/node/transform_op.go:44,
    * 131-137) — an empty result batch is dropped before the sink's
    * action runs, so e.g. a windowed rule with no matches never POSTs
    * an empty payload to a webhook. The emptiness probe is one
    * take(1)-shaped job, paid only when the prop is set.
    */
  final def deliver(df: DataFrame): Unit =
    if (options.getOrElse("omitIfEmpty", "false").toBoolean && df.isEmpty) ()
    else writeBatch(df)

  /** Continuous delivery to this sink alone, through [[Sink.fanOut]]. */
  def writeStream(df: DataFrame, queryName: String,
                  triggerMs: Long = 0, checkpoint: Option[String] = None): StreamingQuery =
    Sink.startQuery(df, queryName, triggerMs, checkpoint)(Sink.fanOut(Seq(this)))
}

object Sink {
  /** Start a streaming query. Every graft start site goes through here,
    * so each gets the same trigger and checkpoint wiring, and each runs
    * its checkpoint on [[graft.streaming.LocalCheckpointFileManager]]
    * unless the session names its own manager. `wire` adds the output
    * mode and the sink.
    */
  def startQuery(df: DataFrame, queryName: String, triggerMs: Long, checkpoint: Option[String])
                (wire: DataStreamWriter[Row] => DataStreamWriter[Row]): StreamingQuery = {
    LocalCheckpointFileManager.install(df.sparkSession)
    val w = wire(df.writeStream.queryName(queryName))
    val timed = if (triggerMs > 0) w.trigger(Trigger.ProcessingTime(triggerMs)) else w
    checkpoint.fold(timed)(c => timed.option("checkpointLocation", c)).start()
  }

  /** The `outputMode` option `sinks` share (default append). */
  def outputMode(sinks: Seq[Sink]): String = {
    val modes = sinks.map(_.options.getOrElse("outputMode", "append")).distinct
    require(modes.size <= 1, s"sinks on one output frame disagree on outputMode: ${modes.mkString(", ")}")
    modes.headOption.getOrElse("append")
  }

  /** Wire one query to all `sinks` of its frame in their [[outputMode]]
    * (checked now): each micro-batch goes through `perBatch` to every
    * sink's `deliver`, persisted while several sinks read it. At-least-
    * once per sink, as `foreachBatch` is: a sink that throws fails the
    * query before the batch commits; a restart replays it to every sink.
    */
  def fanOut(sinks: Seq[Sink], perBatch: DataFrame => DataFrame = identity)
      : DataStreamWriter[Row] => DataStreamWriter[Row] = {
    val mode = outputMode(sinks)
    _.outputMode(mode).foreachBatch { (b: DataFrame, _: Long) =>
      val out = perBatch(b)
      if (sinks.size == 1) sinks.head.deliver(out)
      else { out.persist(); try sinks.foreach(_.deliver(out)) finally out.unpersist() }
    }
  }

  /** Split "a {{b}} c" into Left(literal) / Right(fieldName) parts. */
  def templateParts(tpl: String): Seq[Either[String, String]] = {
    val re = "\\{\\{\\s*([A-Za-z0-9_.]+)\\s*\\}\\}".r
    val out = scala.collection.mutable.ListBuffer[Either[String, String]]()
    var last = 0
    for (m <- re.findAllMatchIn(tpl)) {
      if (m.start > last) out += Left(tpl.substring(last, m.start))
      out += Right(m.group(1))
      last = m.end
    }
    if (last < tpl.length) out += Left(tpl.substring(last))
    out.toList
  }
}

/** File sink: json / csv / parquet, append mode, optional partition
  * columns, with the reference's rolling policy re-expressed for
  * distributed writers (internal/io/file/sink.go:38-44):
  *
  *  - `rollingInterval` (ms): each batch lands in a time-bucketed
  *    ROLL DIRECTORY — floor(now/interval) stamps the directory name
  *    per `rollingNamePattern` (prefix | suffix | none). A single
  *    renamable open file is a single-writer concept; the directory is
  *    the unit a distributed writer can roll atomically.
  *  - `rollingCount`: max rows per part file — Spark's native
  *    maxRecordsPerFile, enforced per-writer on executors.
  *  - `rollingSize` (bytes): approximated as a per-file row cap
  *    derived from the average row width of a bounded driver sample
  *    (size-capped part files aren't expressible natively).
  *  - `compression`: writer codec (gzip/zstd/…; zlib/flate map to
  *    Hadoop's deflate).
  *
  * Two write paths, one output. A JSON batch appended to a directory on
  * `file:` (no `partitionBy`, no `compression`) goes through
  * [[JsonLineWriter]]: each partition writes its `to_json` lines into
  * its own part files with `java.nio`, byte for byte what Spark's JSON
  * writer writes, and publishes each file by an atomic rename. Spark's
  * `DataFrameWriter` would ship the session's whole Hadoop
  * `Configuration` in every write task, run Hadoop's commit protocol
  * (`_temporary` directories, renames, `.crc` and `_SUCCESS` files) and,
  * without the native `libhadoop`, fork `chmod` for every file it
  * creates — per micro-batch of every streaming rule. Every other write
  * (csv, parquet, `partitionBy`, `compression`, another `mode`, another
  * scheme, or a schema Spark's JSON writer rejects) goes through
  * `DataFrameWriter` as before.
  */
final case class FileSink(path: String, format: String = "json",
                          options: Map[String, String] = Map.empty) extends Sink {
  require(Seq("json", "csv", "parquet").contains(format), s"unsupported format $format")

  private val rollingInterval = options.get("rollingInterval").map(_.toLong).getOrElse(0L)
  private val namePattern = options.getOrElse("rollingNamePattern", "suffix")
  // rollingSize row cap: re-sampled every RollResampleEvery batches so
  // a long-lived rule whose row width drifts (payloads growing) keeps
  // honoring the byte cap; between samples the cached cap is free
  @volatile private var sizeCap: Long = -1L
  private val batchCounter = new java.util.concurrent.atomic.AtomicLong(0)
  require(Seq("prefix", "suffix", "none").contains(namePattern),
    "rollingNamePattern must be one of prefix, suffix or none") // sink.go:91

  /** Current rollingSize row cap (test observability). */
  private[graft] def currentSizeCap: Long = sizeCap

  /** Roll directory for this batch (stable within one interval). */
  private[graft] def rollTarget(nowMs: Long): String =
    if (rollingInterval <= 0) path
    else {
      val ts = nowMs / rollingInterval * rollingInterval
      val f = new java.io.File(path)
      val dir = Option(f.getParent).getOrElse(".")
      namePattern match {
        case "prefix" => s"$dir/$ts-${f.getName}"
        case "suffix" => s"$dir/${f.getName}-$ts"
        case "none" => path
      }
    }

  def writeBatch(df: DataFrame): Unit = {
    val shapedDf = shaped(df)
    val maxRecords = options.get("rollingSize").map(rollingSizeCap(shapedDf, _))
      .orElse(options.get("rollingCount").map(_.toLong))
    val target = rollTarget(System.currentTimeMillis())
    lineTarget(shapedDf, target) match {
      case Some(dir) => JsonLineWriter.write(shapedDf, dir, maxRecords.getOrElse(
        shapedDf.sparkSession.conf.get("spark.sql.files.maxRecordsPerFile").toLong))
      case None => writeWithSpark(shapedDf, target, maxRecords)
    }
  }

  /** The rollingSize row cap: a bounded sample (<=100 rows on the
    * driver) gives the average row width, and `bytes` over it the
    * per-file row cap approximating the byte cap. Sampled on the first
    * batch and refreshed every Nth after that — re-sampling EVERY
    * micro-batch would run an extra Spark job per write.
    */
  private def rollingSizeCap(shapedDf: DataFrame, bytes: String): Long = {
    val n = batchCounter.getAndIncrement()
    if (sizeCap < 0 || n % FileSink.RollResampleEvery == 0) {
      val sample = shapedDf.limit(100).toJSON.collect()
      val avg = if (sample.isEmpty) 1 else math.max(1, sample.map(_.length).sum / sample.length)
      if (!sample.isEmpty || sizeCap < 0) sizeCap = math.max(1L, bytes.toLong / avg)
    }
    sizeCap
  }

  /** The local directory the line writer appends this batch to, when it
    * can write it as Spark's writer would: JSON, append mode, no
    * partition columns, no compression, a schema Spark's JSON writer
    * accepts, and a target on `file:` (by its scheme, or else by the
    * session's `fs.defaultFS`, as Spark's writer resolves it).
    */
  private def lineTarget(shapedDf: DataFrame, target: String): Option[java.nio.file.Path] = {
    val spark = shapedDf.sparkSession
    val hadoop = spark.sparkContext.hadoopConfiguration
    val path = new Path(target)
    def defaultFs = spark.conf.getOption(FileSystem.FS_DEFAULT_NAME_KEY)
      .fold(FileSystem.getDefaultUri(hadoop))(java.net.URI.create)
    val plain = format == "json" && options.getOrElse("mode", "append").equalsIgnoreCase("append") &&
      !options.contains("partitionBy") && !options.contains("compression")
    if (plain && LocalFiles.isLocal(path, defaultFs) &&
        JsonLineWriter.accepts(shapedDf.schema, spark.conf.get("spark.sql.caseSensitive").toBoolean))
      Some(java.nio.file.Paths.get(FileSystem.getLocal(hadoop).makeQualified(path).toUri))
    else None
  }

  private def writeWithSpark(shapedDf: DataFrame, target: String, maxRecords: Option[Long]): Unit = {
    var w = shapedDf.write.mode(options.getOrElse("mode", "append"))
    maxRecords.foreach(n => w = w.option("maxRecordsPerFile", n))
    options.get("compression").foreach { c =>
      val codec = c match {
        case "zlib" | "flate" => "deflate" // Hadoop's DEFLATE codec family
        case other => other
      }
      w = w.option("compression", codec)
    }
    val w2 = options.get("partitionBy")
      .fold(w)(p => w.partitionBy(p.split(",").map(_.trim).toIndexedSeq: _*))
    format match {
      case "json" => w2.json(target)
      case "csv" => w2.option("header", "true").csv(target)
      case "parquet" => w2.parquet(target)
    }
  }
}

object FileSink {
  /** Re-sample the rollingSize row-width estimate every this many
    * batches (var so tests can tighten the cadence).
    */
  @volatile var RollResampleEvery: Long = 32L
}

/** Memory sink: appends each batch to a named in-process topic —
  * registry for batch consumers, parquet spool for streaming
  * consumers (MemorySource.stream) — the reference's rule-pipeline
  * pattern.
  */
final case class MemorySink(topic: String,
                            options: Map[String, String] = Map.empty) extends Sink {
  def writeBatch(df: DataFrame): Unit = {
    val out = shaped(df)
    graft.sources.MemoryHub.append(topic, out)
    graft.sources.MemoryHub.spool(topic, out)
  }
}

/** Log sink: rows to the driver log, capped. Reference: log sink. */
final case class LogSink(max: Int = 20,
                         options: Map[String, String] = Map.empty) extends Sink {
  override def consumesAllRows: Boolean = false // capped collect
  def writeBatch(df: DataFrame): Unit =
    shaped(df).limit(max).collect().foreach(r => println(s"[graft-sink] $r"))
}

/** Nop sink: full evaluation, discarded output (the reference's nop
  * sink; also what Bench uses to defeat lazy pruning).
  */
final case class NopSink(options: Map[String, String] = Map.empty) extends Sink {
  def writeBatch(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()
}

/** Delivery-guarantee wrapper (reference: the sink sync cache,
  * internal/topo/node/cache/sync_cache.go): when the wrapped sink's
  * writeBatch throws, the batch is spooled to disk and resent — in
  * arrival order, before any newer batch — on the next writeBatch (or
  * an explicit flush). The queue is bounded: once `maxCachedBatches`
  * are spooled, further failures propagate (backpressure instead of
  * unbounded disk growth).
  *
  * The RAW batch is spooled (pre-template/projection), so replay goes
  * through the wrapped sink's own shaping exactly like a live batch.
  * Spooling is a distributed parquet write — the batch never touches
  * the driver.
  */
final case class ReliableSink(inner: Sink, cacheDir: String,
                              maxCachedBatches: Int = 100) extends Sink {
  def options: Map[String, String] = inner.options

  private val seq = new java.util.concurrent.atomic.AtomicLong()

  private def pendingDirs(): Seq[java.io.File] =
    Option(new java.io.File(cacheDir).listFiles())
      .getOrElse(Array.empty[java.io.File])
      .filter(f => f.isDirectory && f.getName.startsWith("batch_"))
      .sortBy(_.getName).toSeq

  /** Number of spooled batches awaiting redelivery. */
  def pendingBatches: Int = pendingDirs().size

  private def spool(df: DataFrame): Unit = {
    if (pendingBatches >= maxCachedBatches)
      throw new IllegalStateException(
        s"resend cache full ($maxCachedBatches batches) for $cacheDir")
    // zero-padded so the lexicographic replay order IS arrival order
    // (unpadded, batch_..._10 would sort before batch_..._9)
    df.write.mode("overwrite").parquet(
      f"$cacheDir/batch_${System.currentTimeMillis()}%014d_${seq.incrementAndGet()}%012d")
  }

  /** Redeliver spooled batches, oldest first; stops at the first
    * failure to preserve order. Returns true when the queue drained.
    */
  def flush(spark: org.apache.spark.sql.SparkSession): Boolean =
    pendingDirs().forall { dir =>
      try {
        inner.writeBatch(spark.read.parquet(dir.getAbsolutePath))
        org.apache.commons.io.FileUtils.deleteQuietly(dir); true
      } catch { case _: Exception => false }
    }

  def writeBatch(df: DataFrame): Unit =
    if (!flush(df.sparkSession)) spool(df) // keep order behind the stuck batch
    else
      try inner.writeBatch(df)
      catch { case _: Exception => spool(df) }
}

/** Connector sinks (mqtt / rest / redis / edgex / neuron / websocket).
  * Zero-egress container → the transport is a deterministic STUB that
  * records would-be-published payloads per (kind, endpoint) for tests
  * to assert on. Template/projection/batching logic — the engine's
  * share of a sink — is real and shared via Sink.shaped.
  *
  * Publishing runs on the EXECUTORS via foreachPartition — one client
  * per partition, rows never pass through the driver (the reference's
  * sinks all publish from the worker, internal/io/&#42;/sink.go; a
  * driver-side collect here would OOM the driver at 100 TB). The stub
  * "broker" is a process-wide registry, which in local mode doubles as
  * the test observation point; a real deployment swaps
  * `ConnectorSink.client` for a broker client and nothing else changes.
  */
final case class ConnectorSink(kind: String, endpoint: String,
                               options: Map[String, String] = Map.empty) extends Sink {
  require(ConnectorSink.kinds.contains(kind), s"unknown connector $kind")
  def writeBatch(df: DataFrame): Unit = {
    val out = shaped(df)
    // payload framing: an explicit dataTemplate wins; otherwise encode
    // per the FORMAT option (json default, delimited, urlencoded)
    val payloadCol = out.schema.fieldNames.toSeq match {
      case Seq("payload") => col("payload")
      case names => graft.sources.Codecs.encode(
        names.map(n => n -> col(n)), options.getOrElse("format", "json"),
        options.getOrElse("delimiter", ","))
    }
    val batchSize = options.getOrElse("batchSize", "0").toInt
    // reference sendSingle prop (internal/topo/node/transform_op.go:43,
    // 146-160): true → one message per ROW (graft's default framing);
    // false → the whole result batch as ONE json-array message, the
    // reference's default. Whole-batch framing forces the batch to a
    // single partition — correct for rule-sized window results, which
    // is what the prop exists for; leave it unset for corpus-scale
    // frames and the per-row/batchSize framing stays fully parallel.
    val sendSingle = options.get("sendSingle").map(_.toBoolean)
    val omitEmptyRows = options.getOrElse("omitIfEmpty", "false").toBoolean
    val compression = options.getOrElse("compression", "")
    val encryption = options.getOrElse("encryption", "")
    val (k, ep, opts) = (kind, endpoint, options) // don't capture `this` in the closure

    if (encryption.nonEmpty) {
      // fail fast on the driver: bad algo/key must not wait for a task
      require(encryption == "aes",
        s"unsupported encryption '$encryption' (only aes, like the reference)")
      graft.functions.Crypto.encrypt(Array.emptyByteArray,
        options.getOrElse("aesKey",
          throw new IllegalArgumentException("aes encryption needs an 'aesKey' (base64) prop")),
        options.getOrElse("encMode", "cfb"), options.getOrElse("encIv", ""))
    }
    if (compression.nonEmpty)
      require(graft.functions.Compression.codecs.contains(compression),
        s"unsupported compression '$compression'")
    val binary = compression.nonEmpty || encryption.nonEmpty

    val framed = out.select(payloadCol.cast("string").as("payload"))
    val toPublish = if (sendSingle.contains(false)) framed.coalesce(1) else framed
    toPublish.foreachPartition { (rows: Iterator[Row]) =>
      // broker-URL endpoints (tcp:// mqtt, ws://, redis://) get a REAL
      // per-partition publisher built ON THE EXECUTOR (the reference's
      // per-worker publisher shape, internal/io/mqtt/sink.go); anything
      // else records into the in-process stub for tests. Credential and
      // TLS DDL props ride along to the executor-side client.
      // encode → [batch] → compress → encrypt runs HERE, per executor
      // partition (the reference's sink pipeline order,
      // internal/topo/planner/planner_sink.go:255-271) — byte work
      // never touches the driver.
      val client =
        if (graft.net.SinkTransports.supports(k, ep)) graft.net.SinkTransports.client(k, ep, opts)
        else ConnectorSink.client(k, ep)
      try {
        val payloads0 = rows.map(_.getString(0))
        // per-row omitIfEmpty (reference transform_op.go:148-151):
        // a row that shaped to an empty object carries no content
        val payloads =
          if (omitEmptyRows) payloads0.filter(p => p.nonEmpty && p != "{}")
          else payloads0
        val grouped =
          if (sendSingle.contains(false)) {
            // one array message for the whole (single-partition) batch;
            // [] still publishes UNLESS omitIfEmpty is set — a batch
            // whose rows all shaped to empty payloads is exactly the
            // empty delivery that prop suppresses
            val ps = payloads.toSeq
            if (omitEmptyRows && ps.isEmpty) Iterator.empty
            else Iterator.single(ps.mkString("[", ",", "]"))
          }
          // explicit sendSingle=true wins over batchSize: per-row
          // framing is what the prop means (transform_op.go:146-160)
          else if (batchSize > 1 && !sendSingle.contains(true))
            payloads.grouped(batchSize).map(_.mkString("[", ",", "]"))
          else payloads
        if (binary)
          grouped.foreach { p =>
            var bytes = client.encodeForWire(p)
              .getBytes(java.nio.charset.StandardCharsets.UTF_8)
            if (compression.nonEmpty)
              bytes = graft.functions.Compression.compress(bytes, compression)
            if (encryption.nonEmpty)
              bytes = graft.functions.Crypto.encrypt(bytes,
                opts("aesKey"), opts.getOrElse("encMode", "cfb"), opts.getOrElse("encIv", ""))
            client.publishBytes(bytes)
          }
        else grouped.foreach(client.publish)
      } finally client.close() // a mid-partition publish failure must not leak the client
    }
  }
}

/** Shared sink construction from (kind, string props) — the REST
  * action-object surface (RuleApi) and graph sink nodes both resolve
  * here, so every sink kind (incl. sql / influx / image) is reachable
  * from rule JSON, not only programmatically.
  */
object SinkFactory {
  def forKind(kind: String, opts: Map[String, String]): Sink = {
    def opt(f: String): Option[String] = opts.get(f)
    def required(f: String): String = opt(f).getOrElse(
      throw new IllegalArgumentException(s"$kind sink needs a '$f' property"))
    kind match {
      case "memory" => MemorySink(
        opt("topic").orElse(opt("endpoint")).getOrElse("out"), opts)
      case "file" => FileSink(
        opt("path").orElse(opt("endpoint")).getOrElse("/tmp/graft-out"),
        opts.getOrElse("format", "json"), opts)
      case "log" => LogSink(options = opts)
      case "nop" => NopSink(opts)
      case "sql" => SqlSink(required("dburl"),
        opt("table").orElse(opt("datasource")).getOrElse(required("table")), opts)
      case "influx" => InfluxSink(
        opt("addr").orElse(opt("endpoint")).getOrElse(required("addr")),
        required("measurement"), opts)
      case "influx2" => InfluxSink(
        opt("addr").orElse(opt("endpoint")).getOrElse(required("addr")),
        required("measurement"), opts + ("version" -> "2"))
      case "image" => ImageSink(
        opt("path").orElse(opt("endpoint")).getOrElse(required("path")),
        opts.getOrElse("imageFormat", "png"),
        opts.getOrElse("maxAge", "72").toInt,
        opts.getOrElse("maxCount", "1000").toInt, opts)
      case "portable" => graft.plugins.PortableConnectorSink(
        required("plugin"), required("symbol"), opts)
      case k => ConnectorSink(k,
        opt("topic").orElse(opt("url")).orElse(opt("endpoint")).getOrElse("out"),
        opts)
    }
  }
}

object ConnectorSink {
  val kinds: Set[String] = Set("mqtt", "rest", "redis", "edgex", "neuron", "websocket", "kafka", "zmq")

  /** Per-partition publishing client (stub: records into the in-process
    * "broker"). A real transport implements this same two-method shape.
    * Binary payloads (compressed / encrypted pipelines) go through
    * publishBytes; the default bridges via ISO-8859-1, which is
    * byte-preserving both directions, so string-shaped transports and
    * the stub recorder keep the exact bytes.
    */
  trait Client extends Serializable {
    def publish(payload: String): Unit
    def publishBytes(payload: Array[Byte]): Unit =
      publish(new String(payload, java.nio.charset.StandardCharsets.ISO_8859_1))
    /** Transport-level framing a binary pipeline must apply BEFORE
      * compression/encryption (e.g. the edgex envelope — on the plain
      * path `publish` applies it internally; on the byte path the
      * cipher must wrap the ENVELOPED payload).
      */
    def encodeForWire(payload: String): String = payload
    def close(): Unit
  }

  /** Client factory, invoked once per partition ON THE EXECUTOR. */
  def client(kind: String, endpoint: String): Client = new Client {
    private val buf = scala.collection.mutable.ArrayBuffer[String]()
    def publish(payload: String): Unit = buf += payload
    def close(): Unit = record(kind, endpoint, buf.toSeq)
  }

  private val published =
    new java.util.concurrent.ConcurrentHashMap[(String, String), Vector[String]]()
  def record(kind: String, endpoint: String, payloads: Seq[String]): Unit =
    published.merge((kind, endpoint), payloads.toVector, (a, b) => a ++ b)
  def sent(kind: String, endpoint: String): Vector[String] =
    Option(published.get((kind, endpoint))).getOrElse(Vector.empty)
  def clear(kind: String, endpoint: String): Unit = published.remove((kind, endpoint))
}
