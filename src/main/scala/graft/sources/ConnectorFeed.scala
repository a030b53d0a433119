package graft.sources

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** Transport feed for ConnectorSource, the analog of the reference's
  * in-process pub/sub (internal/io/memory/pubsub). Every connector
  * kind's bridge (or a test) pushes raw frames here; each (kind, topic)
  * feed keeps one in-memory log of its newest `memCap` frames. Batch
  * reads and schema inference read the log as a DataFrame; streams read
  * it through [[ConnectorFeedProvider]]. Nothing is written to disk.
  * Retention is QoS0, like the reference's runtime, which consumes
  * frames and discards them (internal/io/mqtt/source.go): a stream that
  * keeps up sees every frame exactly once; one that falls more than
  * `memCap` frames behind loses the overflow.
  */
object ConnectorFeed {
  /** Frames kept per feed; bounds batch reads and streams alike. */
  @volatile var memCap: Int = 4096

  /** One feed's log of (frame, arrivalMs). Seqs start at 1 and survive
    * `clear`; the ring holds seqs (last - ring.length, last].
    */
  private[sources] final class Log {
    private val ring = new scala.collection.mutable.ArrayDeque[(String, Long)]()
    private var last = 0L

    def append(frame: String, arrivalMs: Long): Unit = synchronized {
      last += 1
      ring.append((frame, arrivalMs))
      while (ring.length > memCap) ring.removeHead()
    }
    def clear(): Unit = synchronized(ring.clear())
    def lastSeq: Long = synchronized(last)
    /** The seq just before the oldest retained frame. */
    def startSeq: Long = synchronized(last - ring.length)
    /** Retained frames with from < seq <= to. */
    def range(from: Long, to: Long): Array[(String, Long)] = synchronized {
      val before = last - ring.length
      val (lo, hi) = (math.max(0L, from - before), math.min(ring.length.toLong, to - before))
      if (lo >= hi) Array.empty else ring.slice(lo.toInt, hi.toInt).toArray
    }
  }

  /** Fixed once per JVM: an offset with another epoch was written by
    * another process, whose frames this one never had.
    */
  private[sources] val epoch: String = java.util.UUID.randomUUID().toString
  private[sources] val StreamSchema = StructType.fromDDL("frame string, arrival_ts timestamp")

  private val feeds = new java.util.concurrent.ConcurrentHashMap[(String, String), Log]()

  private[sources] def log(kind: String, topic: String): Log =
    feeds.computeIfAbsent((kind, topic), _ => new Log)

  /** Live bridges and tests push (frame, arrivalMillis). */
  def push(kind: String, topic: String, frameJson: String, arrivalMs: Long): Unit =
    log(kind, topic).append(frameJson, arrivalMs)

  /** Drop the retained frames; the sequence goes on. */
  def clear(kind: String, topic: String): Unit = log(kind, topic).clear()

  /** Unbounded (frame, arrival_ts) stream over the feed's log. */
  def frameStream(spark: SparkSession, kind: String, topic: String): DataFrame =
    spark.readStream.format(classOf[ConnectorFeedProvider].getName)
      .option("kind", kind).option("topic", topic).load()

  /** The retained (frame, arrival_ts) rows. */
  def frames(spark: SparkSession, kind: String, topic: String): DataFrame = {
    import scala.jdk.CollectionConverters._
    val rows = log(kind, topic).range(0L, Long.MaxValue).toSeq
      .map { case (f, ms) => Row(f, new java.sql.Timestamp(ms)) }
    spark.createDataFrame(rows.asJava, StreamSchema)
  }
}

/** DSv2 micro-batch source over a [[ConnectorFeed]] log (options `kind`
  * and `topic`). Offsets are (epoch, seq); a new query starts just
  * before the oldest retained frame, so frames pushed before a rule
  * starts are delivered. A batch ships the frames in (start, end] as
  * one partition: the bridges run on the driver, so the frames are
  * already there. A checkpoint from another process (another epoch)
  * resumes at the start of the retained log, and its unfinished batch
  * replays empty. `commit` is a no-op: `memCap` is the one retention
  * bound, shared by every reader of the feed.
  */
final class ConnectorFeedProvider extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    ConnectorFeed.StreamSchema

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: java.util.Map[String, String]): Table = {
    val (kind, topic) = (properties.get("kind"), properties.get("topic"))
    require(kind != null && topic != null, "a connector feed stream needs options kind and topic")
    new Table with SupportsRead {
      override def name(): String = s"connector_feed[$kind:$topic]"
      override def schema(): StructType = ConnectorFeed.StreamSchema
      override def capabilities(): java.util.Set[TableCapability] =
        java.util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
      override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
        () => new ConnectorFeedStream(ConnectorFeed.log(kind, topic), name())
    }
  }
}

private final case class FeedOffset(epoch: String, seq: Long) extends Offset {
  override def json(): String = s"""{"epoch":"$epoch","seq":$seq}"""
}

private final case class FeedPartition(frames: Array[(String, Long)]) extends InputPartition

private final class ConnectorFeedStream(log: ConnectorFeed.Log, name: String)
    extends Scan with MicroBatchStream {
  private val epoch = ConnectorFeed.epoch
  private val OffsetJson = """\{"epoch":"([^"]*)","seq":(-?\d+)\}""".r

  override def readSchema(): StructType = ConnectorFeed.StreamSchema
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream = this
  override def initialOffset(): Offset = FeedOffset(epoch, log.startSeq)
  override def latestOffset(): Offset = FeedOffset(epoch, log.lastSeq)
  override def deserializeOffset(json: String): Offset = json match {
    case OffsetJson(e, s) => FeedOffset(e, s.toLong)
    case _ => throw new IllegalArgumentException(s"not a connector feed offset: $json")
  }
  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val (s, e) = (start.asInstanceOf[FeedOffset], end.asInstanceOf[FeedOffset])
    Array(FeedPartition(
      if (e.epoch != epoch) Array.empty // another process's frames are gone
      else log.range(if (s.epoch == epoch) s.seq else 0L, e.seq)))
  }
  override def createReaderFactory(): PartitionReaderFactory = FeedReaderFactory
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
  override def toString: String = name
}

private object FeedReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new PartitionReader[InternalRow] {
      private val rows = partition.asInstanceOf[FeedPartition].frames.iterator
        .map { case (frame, arrivalMs) => InternalRow(UTF8String.fromString(frame), arrivalMs * 1000L) }
      private var row: InternalRow = _
      override def next(): Boolean = rows.hasNext && { row = rows.next(); true }
      override def get(): InternalRow = row
      override def close(): Unit = ()
    }
}
