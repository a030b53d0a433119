package graft.net

import graft.sources.ConnectorFeed
import java.nio.charset.StandardCharsets
import java.util.concurrent.ConcurrentHashMap

/** Bridges between real wire-protocol clients and the Spark-side
  * connector plumbing.
  *
  * Ingest path (source): a long-lived client subscribes on the broker
  * and appends every received frame to [[graft.sources.ConnectorFeed]]
  * — the in-memory log a `ConnectorSource` stream reads — so a
  * streaming rule sees broker messages as incremental micro-batches.
  * This is the reference's source connection model (one subscriber
  * connection per stream, internal/io/mqtt/source.go) with a DSv2
  * micro-batch source as the hand-off.
  *
  * Egress path (sink): `ConnectorSink` asks [[SinkTransports]] for a
  * per-partition client; when the endpoint is a broker URL a real
  * publisher is created ON THE EXECUTOR (one connection per partition,
  * the reference's per-worker publisher shape).
  */
object FeedBridges {

  private final case class Key(kind: String, topic: String, server: String,
                               options: Map[String, String])
  private val bridges = new ConcurrentHashMap[Key, AutoCloseable]()

  // the connection-shaping DDL props (reference: mqtt username/password
  // props internal/io/mqtt/v4client/client.go:44,63-67, redis password
  // redisSub.go:36-37, shared cert layer pkg/cert/cert.go) — only these
  // participate in bridge identity, so unrelated options (format,
  // delimiter) don't spawn duplicate connections
  private val connProps =
    Set("username", "password", "rootCaPath", "skipCertVerify", "tls", "messageType",
      "saslUserName", "saslPassword", "partition", "offset", "interval", "mergefield")

  /** Ensure a subscriber bridge is running for (kind, topic, server).
    * Idempotent; called from ConnectorSource when the DDL carries a
    * SERVER option. The bridge's frames flow into ConnectorFeed under
    * (kind, topic), exactly like stub pushes — everything downstream
    * is unchanged.
    */
  def ensure(kind: String, topic: String, server: String,
             options: Map[String, String] = Map.empty): Unit = {
    val key = Key(kind, topic, server, options.view.filterKeys(connProps).toMap)
    bridges.computeIfAbsent(key, _ => start(kind, topic, server, options))
  }

  /** Supervise a dialed client: when its liveness probe drops (peer
    * restart, network cut), close it and redial with a short backoff —
    * the reconnect behavior the reference gets from its client
    * libraries' auto-reconnect options.
    */
  private def supervised(name: String)(
      connect: () => (AutoCloseable, () => Boolean)): AutoCloseable = {
    @volatile var running = true
    @volatile var current: AutoCloseable = null
    val loop = new Thread(() => {
      while (running) {
        try {
          val (client, alive) = connect()
          current = client
          while (running && alive()) Thread.sleep(200)
          if (running) try client.close() catch { case _: Exception => () }
        } catch { case _: Exception => () } // dial failed; back off and retry
        if (running) Thread.sleep(500)
      }
    }, name)
    loop.setDaemon(true)
    loop.start()
    () => {
      running = false
      Option(current).foreach(c => try c.close() catch { case _: Exception => () })
    }
  }

  private def start(kind: String, topic: String, server: String,
                    options: Map[String, String]): AutoCloseable = {
    // source-side down sampling (reference docs/guide/sources/
    // down_sample.md + internal/topo/node/rate_limit.go): with an
    // INTERVAL prop the bridge accumulates pushed frames and emits per
    // tick — latest-wins, or last-per-MERGEFIELD batched as
    // {"frames":[{"data":…},…]} exactly like the reference's strategy 1
    val sampler = DownSampler.fromOptions(kind, topic, options)
    val emit: (String, Long) => Unit = sampler match {
      case Some(s) => (f, _) => s.offer(f)
      case None => (f, ts) => ConnectorFeed.push(kind, topic, f, ts)
    }
    val transport = startTransport(kind, topic, server, options, emit)
    sampler match {
      case Some(s) => () => { transport.close(); s.close() }
      case None => transport
    }
  }

  /** Inbound payload decode: decrypt → decompress → UTF-8, the inverse
    * of the sink's encode → compress → encrypt (reference source-side
    * `decompression` prop, planner_source.go:170; decryption mirrors
    * the file source's `decryption`). Applied on every transport that
    * can carry raw bytes (mqtt/kafka/zmq/neuron, websocket binary
    * frames, redis bulk payloads).
    *
    * Returns None for a frame that fails to decode: one poison
    * message (corrupt, plaintext on an encrypted topic, …) must be
    * SKIPPED, not wedge the bridge — decode runs inside transport
    * reader callbacks and kafka's fetch loop, where a throw would
    * kill the reader or hot-loop the same offset forever. Config
    * errors (bad algo name, missing key) still throw at bridge build
    * time via the eager requires.
    */
  private[net] def inboundDecode(options: Map[String, String]): Array[Byte] => Option[String] = {
    val decompression = options.getOrElse("decompression", "")
    val decryption = options.getOrElse("decryption", "")
    if (decryption.nonEmpty) {
      require(decryption == "aes",
        s"unsupported decryption '$decryption' (only aes, like the reference)")
      require(options.contains("aesKey"), "aes decryption needs an 'aesKey' (base64) prop")
    }
    if (decompression.nonEmpty)
      require(graft.functions.Compression.codecs.contains(decompression),
        s"unsupported decompression '$decompression'")
    if (decryption.isEmpty && decompression.isEmpty)
      payload => Some(new String(payload, StandardCharsets.UTF_8))
    else payload =>
      try {
        var bytes = payload
        if (decryption.nonEmpty)
          bytes = graft.functions.Crypto.decrypt(bytes, options("aesKey"),
            options.getOrElse("encMode", "cfb"), options.getOrElse("encIv", ""))
        if (decompression.nonEmpty)
          bytes = graft.functions.Compression.decompress(bytes, decompression)
        Some(new String(bytes, StandardCharsets.UTF_8))
      } catch { case _: Exception => None } // poison frame: drop, keep consuming
  }

  private def startTransport(kind: String, topic: String, server: String,
                             options: Map[String, String],
                             emit: (String, Long) => Unit): AutoCloseable = {
    val tls = Tls.clientFromOptions(options)
    val decode = inboundDecode(options)
    kind match {
      case "mqtt" =>
        val client = MqttClient.connect(server, s"graft-src-${topic.hashCode.toHexString}",
          username = options.get("username"), password = options.get("password"), tls = tls)
        client.subscribe(topic, (_, payload) =>
          decode(payload).foreach(emit(_, System.currentTimeMillis())))
        () => client.close()
      case "websocket" =>
        // a symmetric ws sink publishes compressed/encrypted payloads
        // as BINARY frames; plain text rides text frames — decode both
        val client = WebSocketClient.connect(server, tls = tls)
        client.onText(msg =>
          decode(msg.getBytes(StandardCharsets.UTF_8))
            .foreach(emit(_, System.currentTimeMillis())))
        client.onBinary(payload =>
          decode(payload).foreach(emit(_, System.currentTimeMillis())))
        () => client.close()
      case "redis" =>
        val client = RedisClient.connect(server, password = options.get("password"), tls = tls)
        client.subscribeBytes(topic, payload =>
          decode(payload).foreach(emit(_, System.currentTimeMillis())))
        () => client.close()
      case "edgex" =>
        // the EdgeX message bus IS mqtt or redis (reference
        // internal/io/edgex/client/edgex.go); ride the matching graft
        // transport and unwrap the JSON MessageEnvelope → flattened
        // readings before pushing, so the declared schema sees
        // {resourceName: value} objects exactly like the reference rule
        val messageType = options.getOrElse("messageType", "event")
        def pushEnvelope(frame: String): Unit =
          graft.sources.Edgex.decodeEnvelope(frame, messageType)
            .foreach(flat => emit(flat, System.currentTimeMillis()))
        if (server.startsWith("redis")) {
          val client = RedisClient.connect(server, password = options.get("password"), tls = tls)
          client.subscribe(topic, pushEnvelope)
          () => client.close()
        } else {
          val client = MqttClient.connect(server, s"graft-edgex-${topic.hashCode.toHexString}",
            username = options.get("username"), password = options.get("password"), tls = tls)
          client.subscribe(topic, (_, payload) =>
            pushEnvelope(new String(payload, StandardCharsets.UTF_8)))
          () => client.close()
        }
      case "kafka" =>
        // fetch-loop subscriber (reference extensions/impl/kafka/
        // source.go: explicit partition, offset tracked client-side)
        val partition = options.getOrElse("partition", "0").toInt
        val sasl = for {
          u <- options.get("saslUserName")
          p <- options.get("saslPassword").orElse(options.get("password"))
        } yield (u, p)
        val client = KafkaClient.connect(server, s"graft-src-${topic.hashCode.toHexString}",
          sasl = sasl, tls = tls)
        @volatile var running = true
        val startOffset =
          if (options.get("offset").contains("earliest")) client.earliestOffset(topic, partition)
          else client.latestOffset(topic, partition)
        val loop = new Thread(() => {
          var off = startOffset
          while (running)
            try {
              val (_, records) = client.fetch(topic, partition, off, maxWaitMs = 500)
              records.foreach { rec =>
                // advance PAST the record whether or not it decodes —
                // a poison message must not hot-loop the fetch forever
                decode(rec.value).foreach(emit(_, rec.timestamp))
                off = rec.offset + 1
              }
            } catch {
              case _: Exception if !running => () // closed under us
              case _: Exception => Thread.sleep(200) // transient; retry
            }
        }, s"kafka-bridge-$topic")
        loop.setDaemon(true)
        loop.start()
        () => { running = false; client.close() }
      case "zmq" =>
        // SUB socket with a prefix subscription (reference
        // extensions/impl/zmq/source.go: SetSubscribe + recv loop);
        // supervised — a publisher restart redials and resubscribes
        supervised(s"zmq-bridge-$topic") { () =>
          val client = ZmqSub.connect(server, topic)
          client.onMessage((_, payload) =>
            decode(payload).foreach(emit(_, System.currentTimeMillis())))
          (client, () => client.isOpen)
        }
      case "neuron" =>
        // dialed SP PAIR socket — the reference's nng connection to the
        // neuron daemon (internal/io/neuron/source.go, pkg/nng);
        // supervised — a daemon restart redials the pair
        supervised(s"neuron-bridge-$topic") { () =>
          val client = NngPair.dial(server)
          client.onMessage(body =>
            decode(body).foreach(emit(_, System.currentTimeMillis())))
          (client, () => client.isOpen)
        }
      case other =>
        throw new IllegalArgumentException(
          s"no real transport for connector kind '$other' (mqtt, websocket, redis, edgex, kafka, zmq)")
    }
  }

  /** Close and forget every bridge (test teardown). */
  def closeAll(): Unit = {
    bridges.forEach((_, c) => try c.close() catch { case _: Exception => () })
    bridges.clear()
  }
}

/** Real per-partition sink clients, selected by endpoint URL scheme.
  * Runs on executors — must not capture driver-side state.
  */
object SinkTransports {
  import graft.sinks.ConnectorSink.Client

  // One token manager per (endpoint, oauth conf) per executor JVM —
  // the token survives across partitions and micro-batches like the
  // other transports' connection reuse.
  private val oauthManagers =
    new java.util.concurrent.ConcurrentHashMap[String, graft.sources.OAuthTokenManager]()
  private[net] def cachedOAuth(endpoint: String,
      options: Map[String, String]): Option[graft.sources.OAuthTokenManager] =
    options.get("oauth.access.url").filter(_.nonEmpty).map { _ =>
      val key = endpoint + "|" +
        options.view.filterKeys(_.startsWith("oauth.")).toSeq.sorted.mkString(",")
      oauthManagers.computeIfAbsent(key,
        _ => new graft.sources.OAuthTokenManager(options))
    }

  /** True if this (kind, endpoint) pair names a real transport. */
  def supports(kind: String, endpoint: String): Boolean = kind match {
    case "mqtt" => Seq("tcp://", "mqtt://", "ssl://", "mqtts://").exists(endpoint.startsWith)
    case "rest" => endpoint.startsWith("http://") || endpoint.startsWith("https://")
    case "websocket" => endpoint.startsWith("ws://") || endpoint.startsWith("wss://")
    case "redis" => endpoint.startsWith("redis://") || endpoint.startsWith("rediss://")
    case "edgex" => // the EdgeX bus is mqtt or redis under a JSON envelope
      Seq("tcp://", "mqtt://", "ssl://", "mqtts://", "redis://", "rediss://")
        .exists(endpoint.startsWith)
    case "kafka" => endpoint.startsWith("kafka://") || endpoint.startsWith("kafkas://")
    case "zmq" => endpoint.startsWith("tcp://") || endpoint.startsWith("zmq://")
    case "neuron" => endpoint.startsWith("tcp://") || endpoint.startsWith("nng+tcp://")
    case _ => false // rest goes through the HTTP sink path, not graft.net
  }

  /** endpoint "scheme://host:port/topic" → (serverUrl, topic). */
  private def split(endpoint: String): (String, String) = {
    val u = java.net.URI.create(endpoint)
    val topic = Option(u.getPath).map(_.stripPrefix("/")).getOrElse("")
    require(topic.nonEmpty, s"sink endpoint needs a topic path: $endpoint")
    (s"${u.getScheme}://${u.getHost}:${u.getPort}", topic)
  }

  def client(kind: String, endpoint: String,
             options: Map[String, String] = Map.empty): Client = {
    val tls = Tls.clientFromOptions(options)
    kind match {
      case "mqtt" =>
        val (server, topic) = split(endpoint)
        new Client {
          private val c = MqttClient.connect(server,
            s"graft-sink-${Thread.currentThread().getId}",
            username = options.get("username"), password = options.get("password"), tls = tls)
          def publish(payload: String): Unit = c.publish(topic, payload)
          override def publishBytes(payload: Array[Byte]): Unit = c.publish(topic, payload)
          def close(): Unit = c.close()
        }
      case "rest" =>
        // per-partition HTTP poster (reference internal/io/http/rest
        // sink: one request per payload, method/headers props, oauth
        // access/refresh renewal after each send — client.go Send)
        new Client {
          private val method = options.getOrElse("method", "POST").toUpperCase
          // bodyType framing (reference client.go:143-155: GET/HEAD
          // default to none, everything else json; unknown → error)
          private val bodyType = HttpBody.validate(
            options.getOrElse("bodyType", HttpBody.defaultFor(method)))
          private val fileField = options.getOrElse("fileFieldName", "")
          private val formFields = options.toSeq.collect {
            case (k, v) if k.startsWith("formData.") =>
              k.stripPrefix("formData.") -> v
          }.sortBy(_._1)
          private val headers =
            graft.sources.OAuthTokenManager.headerMap(options.get("headers"))
          // JVM-level cache: foreachPartition builds a fresh Client per
          // partition per micro-batch, but the token must live for the
          // sink's lifetime (the reference holds one client) — without
          // this every partition re-POSTs the token endpoint first.
          private val oauth = SinkTransports.cachedOAuth(endpoint, options)
          def publish(payload: String): Unit =
            publishBytes(payload.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          override def publishBytes(payload: Array[Byte]): Unit = {
            val hs = oauth match {
              case Some(o) => o.headers(headers)
              case None => headers
            }
            val c = java.net.URI.create(endpoint).toURL.openConnection()
              .asInstanceOf[java.net.HttpURLConnection]
            try {
              c.setConnectTimeout(5000)
              c.setReadTimeout(options.getOrElse("timeout", "5000").toInt)
              c.setRequestMethod(method)
              val (ctype, body) =
                HttpBody.encode(bodyType, payload, fileField, formFields)
              if (ctype.nonEmpty && !hs.contains("Content-Type"))
                c.setRequestProperty("Content-Type", ctype)
              // compressed payloads advertise the codec so the server
              // can decode (reference rest_sink.go:118-130; only the
              // two codecs the reference names get the header)
              options.get("compression").filter(Set("gzip", "zstd"))
                .foreach(z => c.setRequestProperty("Content-Encoding", z))
              hs.foreach { case (k, v) => c.setRequestProperty(k, v) }
              if (bodyType != "none") {
                c.setDoOutput(true)
                c.getOutputStream.write(body)
              }
              val code = c.getResponseCode
              if (code / 100 != 2)
                throw new java.io.IOException(s"rest sink: HTTP $code from $endpoint")
            } finally {
              c.disconnect()
              oauth.foreach(_.afterSend())
            }
          }
          def close(): Unit = ()
        }
      case "websocket" =>
        new Client {
          private val c = WebSocketClient.connect(endpoint, tls = tls)
          def publish(payload: String): Unit = c.sendText(payload)
          override def publishBytes(payload: Array[Byte]): Unit = c.sendBinary(payload)
          def close(): Unit = c.close()
        }
      case "redis" =>
        val (server, topic) = split(endpoint)
        new Client {
          private val c = RedisClient.connect(server, password = options.get("password"), tls = tls)
          def publish(payload: String): Unit = c.publishChannel(topic, payload)
          override def publishBytes(payload: Array[Byte]): Unit =
            c.publishChannelBytes(topic, payload)
          def close(): Unit = c.close()
        }
      case "edgex" =>
        // wrap each row in a dtos.Event MessageEnvelope, then publish on
        // the underlying bus transport (reference internal/io/edgex/
        // sink.go:470-510 over client/edgex.go)
        val (server, topic) = split(endpoint)
        val dev = options.getOrElse("deviceName", "graft")
        val prof = options.getOrElse("profileName", "graftProfile")
        val src = options.getOrElse("sourceName", "graftSource")
        val mt = options.getOrElse("messageType", "event")
        def wrap(payload: String): String =
          graft.sources.Edgex.envelope(payload, dev, prof, src, mt)
        // binary pipelines: the envelope is applied via encodeForWire
        // BEFORE compression/encryption, and the ciphertext publishes
        // raw on the underlying bus — the consumer decrypts, then
        // parses the envelope
        if (server.startsWith("redis"))
          new Client {
            private val c = RedisClient.connect(server, password = options.get("password"), tls = tls)
            def publish(payload: String): Unit = c.publishChannel(topic, wrap(payload))
            override def publishBytes(payload: Array[Byte]): Unit =
              c.publishChannelBytes(topic, payload)
            override def encodeForWire(payload: String): String = wrap(payload)
            def close(): Unit = c.close()
          }
        else
          new Client {
            private val c = MqttClient.connect(server,
              s"graft-edgex-sink-${Thread.currentThread().getId}",
              username = options.get("username"), password = options.get("password"), tls = tls)
            def publish(payload: String): Unit = c.publish(topic, wrap(payload))
            override def publishBytes(payload: Array[Byte]): Unit = c.publish(topic, payload)
            override def encodeForWire(payload: String): String = wrap(payload)
            def close(): Unit = c.close()
          }
      case "kafka" =>
        // per-partition producer (reference extensions/impl/kafka/
        // sink.go: fixed topic + optional fixed key, acks=-1)
        val (server, topic) = split(endpoint)
        val partition = options.getOrElse("partition", "0").toInt
        val key = options.get("key").map(_.getBytes(java.nio.charset.StandardCharsets.UTF_8)).orNull
        val sasl = for {
          u <- options.get("saslUserName")
          p <- options.get("saslPassword").orElse(options.get("password"))
        } yield (u, p)
        new Client {
          private val c = KafkaClient.connect(server,
            s"graft-sink-${Thread.currentThread().getId}", sasl = sasl, tls = tls)
          def publish(payload: String): Unit =
            publishBytes(payload.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          override def publishBytes(payload: Array[Byte]): Unit =
            c.produce(topic, partition, Seq(key -> payload))
          def close(): Unit = c.close()
        }
      case "neuron" =>
        // dialed PAIR socket shared JVM-wide (pair allows exactly one
        // peer; reference internal/io/neuron/sink.go sends raw tuples)
        val pair = NngEndpoints.pair(endpoint)
        new Client {
          def publish(payload: String): Unit =
            publishBytes(payload.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          override def publishBytes(payload: Array[Byte]): Unit = pair.send(payload)
          def close(): Unit = () // shared connection outlives the partition
        }
      case "zmq" =>
        // a zmq PUB sink BINDS its endpoint (reference extensions/impl/
        // zmq/sink.go); partitions share the JVM-wide bound socket, and
        // the optional topic path becomes the first message frame
        val u = java.net.URI.create(endpoint)
        val topic = Option(u.getPath).map(_.stripPrefix("/")).getOrElse("")
        val pub = ZmqEndpoints.pub(s"tcp://${u.getHost}:${u.getPort}")
        new Client {
          def publish(payload: String): Unit =
            publishBytes(payload.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          override def publishBytes(payload: Array[Byte]): Unit = pub.publish(topic, payload)
          def close(): Unit = () // shared endpoint stays bound for the rule's lifetime
        }
      case other =>
        throw new IllegalArgumentException(s"no real sink transport for '$other'")
    }
  }
}

/** Source-side down sampling (reference docs/en_US/guide/sources/
  * down_sample.md; runtime internal/topo/node/rate_limit.go): frames
  * accumulate for `intervalMs`, then one emission per tick —
  *  - default strategy: the LATEST frame of the period (strategy 0);
  *  - with `mergeField` (JSON frames only, like the reference's
  *    columnar-decode restriction): the last frame per field value,
  *    batched as `{"frames":[{"data":<frame>},…]}` in field order —
  *    the reference's strategy-1 output shape with the raw payload
  *    carried as the parsed JSON object instead of opaque bytes.
  * A tick with no frames emits nothing; close() flushes the remainder.
  */
final class DownSampler(kind: String, topic: String, intervalMs: Long,
                        mergeField: Option[String]) extends AutoCloseable {
  require(intervalMs >= 1, "interval should be larger than 1ms") // rate_limit.go:73

  private val latest = new java.util.concurrent.atomic.AtomicReference[String]()
  private val frameSet =
    new java.util.concurrent.ConcurrentSkipListMap[String, String]()
  private val timer = java.util.concurrent.Executors.newSingleThreadScheduledExecutor(r => {
    val t = new Thread(r, s"downsample-$kind-$topic"); t.setDaemon(true); t
  })
  timer.scheduleAtFixedRate(() => flush(), intervalMs, intervalMs,
    java.util.concurrent.TimeUnit.MILLISECONDS)

  def offer(frame: String): Unit = mergeField match {
    case None => latest.set(frame)
    case Some(f) =>
      import org.json4s._
      import org.json4s.jackson.JsonMethods
      try {
        JsonMethods.parse(frame) \ f match {
          case JNothing | JNull => () // field absent: drop (reference errors the tuple)
          case v => frameSet.put(JsonMethods.compact(JsonMethods.render(v)), frame)
        }
      } catch { case _: Exception => () } // undecodable frame: drop
  }

  private def flush(): Unit = mergeField match {
    case None =>
      Option(latest.getAndSet(null)).foreach(f =>
        ConnectorFeed.push(kind, topic, f, System.currentTimeMillis()))
    case Some(_) =>
      if (!frameSet.isEmpty) {
        val frames = new scala.collection.mutable.ListBuffer[String]()
        val it = frameSet.entrySet().iterator()
        while (it.hasNext) { frames += it.next().getValue; it.remove() }
        val doc = frames.map(f => s"""{"data":$f}""").mkString("""{"frames":[""", ",", "]}")
        ConnectorFeed.push(kind, topic, doc, System.currentTimeMillis())
      }
  }

  def close(): Unit = { timer.shutdownNow(); flush() }
}

object DownSampler {
  /** Go-style duration ("500ms", "10s", "1m") or a bare millis count. */
  private[net] def parseMs(s: String): Long = {
    val re = """(\d+)(ms|s|m|h)?""".r
    s.trim match {
      case re(n, unit) =>
        val mult = Option(unit) match {
          case Some("s") => 1000L
          case Some("m") => 60000L
          case Some("h") => 3600000L
          case _ => 1L
        }
        n.toLong * mult
      case other => throw new IllegalArgumentException(s"invalid interval '$other'")
    }
  }

  def fromOptions(kind: String, topic: String,
                  options: Map[String, String]): Option[DownSampler] =
    options.get("interval").map { iv =>
      new DownSampler(kind, topic, parseMs(iv),
        options.get("mergefield").orElse(options.get("mergeField")))
    }
}
