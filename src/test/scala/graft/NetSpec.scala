package graft

import graft.net._
import graft.sinks.ConnectorSink
import graft.sources.{ConnectorFeed, ConnectorSource}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import java.nio.charset.StandardCharsets
import java.util.concurrent.ConcurrentLinkedQueue

/** Wire-protocol and engine-integration tests for graft.net: the
  * MQTT 3.1.1 broker/client, RFC 6455 WebSocket hub/client, RESP
  * redis stub/client, and the ConnectorSource/ConnectorSink plumbing
  * that rides them when a stream carries a SERVER option or a sink
  * endpoint is a broker URL.
  */
class NetSpec extends SparkSuite {

  /** Poll until `cond` or ~5 s — broker deliveries are asynchronous. */
  private def awaitCond(cond: => Boolean, what: String): Unit = {
    val deadline = System.nanoTime() + 5L * 1000 * 1000 * 1000
    while (!cond && System.nanoTime() < deadline) Thread.sleep(20)
    assert(cond, s"timed out waiting for $what")
  }

  // ---- MQTT ----

  test("mqtt: QoS-1 publish round-trips through the broker to a wildcard subscription") {
    val broker = MqttBroker.start()
    try {
      val received = new ConcurrentLinkedQueue[(String, String)]()
      val sub = MqttClient.connect(broker.address, "sub1")
      sub.subscribe("sensors/+/temp", (t, p) =>
        received.add(t -> new String(p, StandardCharsets.UTF_8)))
      val pub = MqttClient.connect(broker.address, "pub1")
      pub.publish("sensors/a/temp", "21.5") // blocks on PUBACK — QoS-1 edge proven
      pub.publish("sensors/b/temp", "22.5")
      pub.publish("sensors/a/humidity", "55") // no filter match
      awaitCond(received.size == 2, "two wildcard-matched deliveries")
      assert(received.toArray.toSet == Set(
        ("sensors/a/temp", "21.5"), ("sensors/b/temp", "22.5")))
      sub.close(); pub.close()
    } finally broker.close()
  }

  test("mqtt: second subscription keeps the first filter's handler (no clobbering)") {
    val broker = MqttBroker.start()
    try {
      val xs = new ConcurrentLinkedQueue[String]()
      val ys = new ConcurrentLinkedQueue[String]()
      val sub = MqttClient.connect(broker.address, "sub2")
      sub.subscribe("x/#", (_, p) => xs.add(new String(p, StandardCharsets.UTF_8)))
      sub.subscribe("y/+", (_, p) => ys.add(new String(p, StandardCharsets.UTF_8)))
      val pub = MqttClient.connect(broker.address, "pub2")
      pub.publish("x/deep/topic", "for-x")
      pub.publish("y/leaf", "for-y")
      awaitCond(xs.size == 1 && ys.size == 1, "each handler one delivery")
      assert(xs.peek() == "for-x" && ys.peek() == "for-y")

      sub.unsubscribe("x/#")
      pub.publish("x/deep/topic", "after-unsub")
      pub.publish("y/other", "still-y")
      awaitCond(ys.size == 2, "y handler still live after x unsubscribe")
      assert(xs.size == 1, "unsubscribed filter must receive nothing")
      sub.close(); pub.close()
    } finally broker.close()
  }

  test("mqtt: QoS-1 publish on a lost connection throws instead of silently succeeding") {
    val broker = MqttBroker.start()
    val pub = MqttClient.connect(broker.address, "pub-lost")
    try {
      pub.publish("t/ok", "delivered") // healthy path first
      broker.close() // drop the connection under the client
      // the reader dies on EOF and fails pending waiters; a publish whose
      // waiter can never be completed must surface the lost connection,
      // never report QoS-1 delivery
      val ex = intercept[Exception] {
        // allow a few attempts: the first write may land in the TCP buffer
        // before the OS notices the peer is gone
        var i = 0
        while (i < 5) { pub.publish("t/lost", "undelivered"); i += 1 }
      }
      assert(ex.isInstanceOf[java.io.IOException] || ex.getCause.isInstanceOf[java.io.IOException],
        s"expected an IOException surfacing the lost connection, got $ex")
    } finally { pub.close(); broker.close() }
  }

  test("mqtt: topicMatches implements + and # per spec") {
    import Mqtt.topicMatches
    assert(topicMatches("a/b/c", "a/b/c"))
    assert(!topicMatches("a/b/c", "a/b"))
    assert(topicMatches("a/+/c", "a/x/c"))
    assert(!topicMatches("a/+/c", "a/x/y"))
    assert(topicMatches("a/#", "a/x/y/z"))
    assert(topicMatches("#", "anything/at/all"))
    assert(!topicMatches("a/+", "a"))
    assert(!topicMatches("+", "a/b"))
  }

  // ---- WebSocket ----

  test("websocket: hub re-broadcasts a masked client frame to other clients") {
    val hub = WebSocketHub.start()
    try {
      val got = new ConcurrentLinkedQueue[String]()
      val listener = WebSocketClient.connect(hub.url)
      listener.onText(got.add(_))
      val sender = WebSocketClient.connect(hub.url)
      sender.sendText("""{"k":1}""")
      sender.sendText("""{"k":2}""")
      awaitCond(got.size == 2, "hub broadcast to the listener")
      assert(got.toArray.toSet == Set("""{"k":1}""", """{"k":2}"""))
      assert(hub.received.size == 2, "hub records frames for assertions")
      sender.close(); listener.close()
    } finally hub.close()
  }

  // ---- Redis / RESP ----

  test("resp: codec round-trips commands and replies") {
    val buf = new java.io.ByteArrayOutputStream()
    Resp.writeCommand(buf, Seq("PUBLISH", "ch", "payload with spaces"))
    val in = new java.io.ByteArrayInputStream(
      buf.toByteArray ++ "+OK\r\n:42\r\n$-1\r\n-ERR boom\r\n".getBytes(StandardCharsets.US_ASCII))
    assert(Resp.readReply(in) == Seq("PUBLISH", "ch", "payload with spaces"))
    assert(Resp.readReply(in) == "OK")
    assert(Resp.readReply(in) == 42L)
    assert(Resp.readReply(in) == null)
    assert(Resp.readReply(in) == Resp.Error("ERR boom"))
  }

  test("redis: SUBSCRIBE/PUBLISH round-trips through the stub server") {
    val server = RedisStubServer.start()
    try {
      val got = new ConcurrentLinkedQueue[String]()
      val sub = RedisClient.connect(server.address)
      sub.subscribe("events", got.add(_))
      val pub = RedisClient.connect(server.address)
      pub.ping()
      assert(pub.publishChannel("events", "e1") == 1L, "one subscriber counted")
      assert(pub.publishChannel("other", "dropped") == 0L)
      awaitCond(got.size == 1, "subscribed channel delivery")
      assert(got.peek() == "e1")

      sub.unsubscribe("events")
      Thread.sleep(50) // let the server process the UNSUBSCRIBE
      assert(pub.publishChannel("events", "e2") == 0L, "no subscriber after unsubscribe")
      sub.close(); pub.close()
    } finally server.close()
  }

  test("redis: publish on a subscriber connection is rejected") {
    val server = RedisStubServer.start()
    try {
      val sub = RedisClient.connect(server.address)
      sub.subscribe("c", _ => ())
      intercept[IllegalArgumentException](sub.publishChannel("c", "x"))
      sub.close()
    } finally server.close()
  }

  // ---- engine wiring: SERVER option → FeedBridges → ConnectorSource ----

  test("connector source with SERVER ingests frames published to a real mqtt broker") {
    val broker = MqttBroker.start()
    try {
      ConnectorFeed.clear("mqtt", "net/in")
      val src = ConnectorSource("mqtt", "net/in",
        StructType.fromDDL("device string, temp bigint"),
        Map("server" -> broker.address))
      // building the batch frame starts the subscriber bridge
      assert(src.batch(spark).count() == 0)
      val pub = MqttClient.connect(broker.address, "ext-pub")
      pub.publish("net/in", """{"device":"a","temp":21}""")
      pub.publish("net/in", """{"device":"b","temp":25}""")
      awaitCond(src.batch(spark).count() == 2, "broker frames landing in the feed")
      val rows = src.batch(spark).orderBy("device")
        .select("device", "temp").collect().map(r => (r.getString(0), r.getLong(1)))
      assert(rows.toSeq == Seq(("a", 21L), ("b", 25L)))
      pub.close()
    } finally { FeedBridges.closeAll(); broker.close() }
  }

  test("connector source SERVER stream: broker frames arrive as micro-batches") {
    val broker = MqttBroker.start()
    try {
      ConnectorFeed.clear("mqtt", "net/stream")
      val src = ConnectorSource("mqtt", "net/stream",
        StructType.fromDDL("v bigint"), Map("server" -> broker.address))
      val q = src.stream(spark).writeStream.format("memory")
        .queryName("net_stream_out").outputMode("append").start()
      try {
        q.processAllAvailable()
        val pub = MqttClient.connect(broker.address, "stream-pub")
        pub.publish("net/stream", """{"v":1}""")
        pub.publish("net/stream", """{"v":2}""")
        awaitCond({ q.processAllAvailable(); spark.table("net_stream_out").count() == 2 },
          "two broker frames as micro-batch rows")
        assert(spark.table("net_stream_out").agg(sum("v")).first().getLong(0) == 3)
        pub.close()
      } finally q.stop()
    } finally { FeedBridges.closeAll(); broker.close() }
  }

  test("connector source with SERVER ingests from the redis stub server") {
    val server = RedisStubServer.start()
    try {
      ConnectorFeed.clear("redis", "net/redis")
      val src = ConnectorSource("redis", "net/redis",
        StructType.fromDDL("x bigint"), Map("server" -> server.address))
      assert(src.batch(spark).count() == 0) // starts the bridge
      val pub = RedisClient.connect(server.address)
      pub.publishChannel("net/redis", """{"x":7}""")
      awaitCond(src.batch(spark).count() == 1, "redis frame landing in the feed")
      assert(src.batch(spark).select("x").first().getLong(0) == 7L)
      pub.close()
    } finally { FeedBridges.closeAll(); server.close() }
  }

  test("redis key-value commands: SET/GET/DEL, RPUSH/LRANGE, SCAN, SELECT") {
    val server = RedisStubServer.start()
    try {
      val c = RedisClient.connect(server.address)
      try {
        assert(c.get("missing").isEmpty)
        c.command("SET", "k1", """{"a":1}""")
        c.command("SET", "k2", """{"a":2}""")
        assert(c.get("k1").contains("""{"a":1}"""))
        c.command("RPUSH", "l1", """{"b":1}""", """{"b":2}""")
        assert(c.lrange("l1") == Seq("""{"b":1}""", """{"b":2}"""))
        assert(c.lrange("nolist").isEmpty)
        assert(c.scanKeys().toSet == Set("k1", "k2", "l1"))
        assert(c.scanKeys("k*").toSet == Set("k1", "k2"))
        assert(c.command("DEL", "k2") == 1L)
        assert(c.get("k2").isEmpty)
        // databases are isolated namespaces
        c.select(3)
        assert(c.scanKeys().isEmpty)
        c.command("SET", "k1", "other")
        assert(c.get("k1").contains("other"))
        c.select(0)
        assert(c.get("k1").contains("""{"a":1}"""))
      } finally c.close()
    } finally server.close()
  }

  test("redis lookup batch: WRONGTYPE keys skipped, inferred schema cached across batches") {
    val server = RedisStubServer.start()
    try {
      val c = RedisClient.connect(server.address)
      try {
        c.command("SET", "d1", """{"site":"berlin","floor":2}""")
        c.command("SET", "d2", """{"site":"tokyo","floor":9}""")
        // a list key under the same "*" pattern: a real redis replies
        // -WRONGTYPE to GET on it; the batch must skip it, not fail
        c.command("RPUSH", "queue", "x", "y")
      } finally c.close()
      val src = graft.sources.RedisLookupSource(server.address) // schemaless
      val first = src.batch(spark)
      assert(first.count() == 2)
      assert(first.columns.sorted.toSeq == Seq("floor", "key", "site"))
      val getsAfterFirst = server.gets.get()
      // schemaless first batch pays one extra fetch to infer the value
      // schema; the inference is cached, so the next liveLookup re-plan
      // fetches each key exactly once
      val second = src.batch(spark)
      assert(second.count() == 2)
      val delta = server.gets.get() - getsAfterFirst
      assert(delta == 3, s"second batch should GET each scanned key once, saw $delta")
    } finally server.close()
  }

  // ---- engine wiring: broker-URL endpoint → SinkTransports → ConnectorSink ----

  test("connector sink publishes partitions to a real mqtt broker") {
    val broker = MqttBroker.start()
    try {
      val got = new ConcurrentLinkedQueue[String]()
      val sub = MqttClient.connect(broker.address, "sink-sub")
      sub.subscribe("net/out", (_, p) => got.add(new String(p, StandardCharsets.UTF_8)))
      val df = spark.range(3).select(col("id"))
      ConnectorSink("mqtt", s"${broker.address}/net/out").writeBatch(df)
      awaitCond(got.size == 3, "three published rows at the subscriber")
      assert(got.toArray.map(_.toString).toSet ==
        Set("""{"id":0}""", """{"id":1}""", """{"id":2}"""))
      sub.close()
    } finally broker.close()
  }

  test("connector sink publishes to the websocket hub") {
    val hub = WebSocketHub.start()
    try {
      val df = spark.range(2).select(col("id"))
      ConnectorSink("websocket", hub.url).writeBatch(df)
      awaitCond(hub.received.size == 2, "hub received both frames")
      assert(hub.received.toSet == Set("""{"id":0}""", """{"id":1}"""))
    } finally hub.close()
  }

  test("connector sink publishes to the redis stub server") {
    val server = RedisStubServer.start()
    try {
      val got = new ConcurrentLinkedQueue[String]()
      val sub = RedisClient.connect(server.address)
      sub.subscribe("out", got.add(_))
      val df = spark.range(2).select(col("id"))
      ConnectorSink("redis", s"${server.address}/out").writeBatch(df)
      awaitCond(got.size == 2, "redis subscriber received both frames")
      assert(got.toArray.map(_.toString).toSet == Set("""{"id":0}""", """{"id":1}"""))
      sub.close()
    } finally server.close()
  }

  // ---- full reference pipeline: broker → decode → windowed SQL → broker ----

  test("e2e rule: mqtt broker in, TUMBLINGWINDOW SQL, mqtt broker out (nexmark-style)") {
    val broker = MqttBroker.start()
    val eng = new graft.rules.RuleEngine(spark)
    try {
      ConnectorFeed.clear("mqtt", "nex/bids")
      eng.createStream(
        s"""CREATE STREAM bids (auction BIGINT, price BIGINT, ts TIMESTAMP) WITH
           | (TYPE="mqtt", DATASOURCE="nex/bids", FORMAT="json",
           |  SERVER="${broker.address}", TIMESTAMP="ts")""".stripMargin)
      // the stream's subscriber must be live before anything publishes —
      // MQTT has no replay without persistent sessions (same as the
      // reference: a rule subscribes on start and sees only new frames)
      FeedBridges.ensure("mqtt", "nex/bids", broker.address)
      // bid events via the REAL broker, not the generator
      val pub = MqttClient.connect(broker.address, "nex-pub")
      pub.publish("nex/bids", """{"auction":1,"price":100,"ts":"2024-01-01T00:00:05Z"}""")
      pub.publish("nex/bids", """{"auction":1,"price":200,"ts":"2024-01-01T00:00:30Z"}""")
      pub.publish("nex/bids", """{"auction":2,"price":500,"ts":"2024-01-01T00:00:40Z"}""")
      pub.publish("nex/bids", """{"auction":1,"price":300,"ts":"2024-01-01T00:01:10Z"}""")
      awaitCond(ConnectorSource("mqtt", "nex/bids",
        StructType.fromDDL("auction bigint, price bigint, ts timestamp"),
        Map.empty).batch(spark).count() == 4, "bids spooled from the broker")

      val got = new ConcurrentLinkedQueue[String]()
      val sub = MqttClient.connect(broker.address, "nex-sub")
      sub.subscribe("nex/out", (_, p) => got.add(new String(p, StandardCharsets.UTF_8)))
      eng.create(graft.rules.Rule("nexq4",
        """SELECT auction, count(*) AS bids, max(price) AS top
          |FROM bids GROUP BY auction, TUMBLINGWINDOW(ss, 60)""".stripMargin,
        Seq(ConnectorSink("mqtt", s"${broker.address}/nex/out",
          Map("dataTemplate" -> """{"a":{{auction}},"n":{{bids}},"top":{{top}}}""")))))
      eng.start("nexq4")
      awaitCond(got.size == 3, "three window aggregates published back")
      assert(got.toArray.map(_.toString).toSet == Set(
        """{"a":1,"n":2,"top":200}""", // window [00:00, 00:01): auction 1 twice
        """{"a":2,"n":1,"top":500}""", // window [00:00, 00:01): auction 2 once
        """{"a":1,"n":1,"top":300}""")) // window [00:01, 00:02)
      pub.close(); sub.close()
    } finally { FeedBridges.closeAll(); broker.close() }
  }

  test("e2e streaming rule: broker-fed stream filters back to the broker incrementally") {
    val broker = MqttBroker.start()
    val eng = new graft.rules.RuleEngine(spark)
    val ckpt = tempDir("graft_net_ck")
    try {
      ConnectorFeed.clear("mqtt", "live/in")
      eng.createStream(
        s"""CREATE STREAM netlive (device STRING, temp BIGINT) WITH
           | (TYPE="mqtt", DATASOURCE="live/in", SERVER="${broker.address}")""".stripMargin)
      val got = new ConcurrentLinkedQueue[String]()
      val sub = MqttClient.connect(broker.address, "live-sub")
      sub.subscribe("live/alerts", (_, p) => got.add(new String(p, StandardCharsets.UTF_8)))
      eng.create(graft.rules.Rule("netlive-rule",
        "SELECT device, temp FROM netlive WHERE temp > 20",
        Seq(ConnectorSink("mqtt", s"${broker.address}/live/alerts",
          Map("dataTemplate" -> """{{device}}:{{temp}}"""))),
        streaming = true, checkpointDir = Some(ckpt.toString)))
      eng.start("netlive-rule")
      try {
        val pub = MqttClient.connect(broker.address, "live-pub")
        pub.publish("live/in", """{"device":"a","temp":25}""")
        pub.publish("live/in", """{"device":"b","temp":5}""")
        awaitCond({ eng.processAllAvailable("netlive-rule"); got.size == 1 },
          "hot reading published as an alert")
        assert(got.peek() == "a:25")
        // a frame published AFTER the stream started arrives as a new micro-batch
        pub.publish("live/in", """{"device":"c","temp":30}""")
        awaitCond({ eng.processAllAvailable("netlive-rule"); got.size == 2 },
          "second alert from a later micro-batch")
        assert(got.toArray.map(_.toString).toSet == Set("a:25", "c:30"))
        pub.close()
      } finally eng.stop("netlive-rule")
      sub.close()
    } finally { FeedBridges.closeAll(); broker.close() }
  }

  test("sink transport selection: broker URLs are real, plain endpoints stay stubbed") {
    assert(SinkTransports.supports("mqtt", "tcp://127.0.0.1:1883/t"))
    assert(SinkTransports.supports("mqtt", "ssl://127.0.0.1:8883/t"))
    assert(SinkTransports.supports("websocket", "ws://127.0.0.1:80/s"))
    assert(SinkTransports.supports("websocket", "wss://127.0.0.1:443/s"))
    assert(SinkTransports.supports("redis", "redis://127.0.0.1:6379/c"))
    assert(SinkTransports.supports("redis", "rediss://127.0.0.1:6380/c"))
    assert(!SinkTransports.supports("rest", "redis://127.0.0.1:6379/c"))
    assert(SinkTransports.supports("rest", "http://x/y")) // real HTTP poster
    assert(!SinkTransports.supports("rest", "hook/plain")) // stub endpoint
    assert(!SinkTransports.supports("mqtt", "memdb"))
    // stub path still records when the endpoint is not a broker URL
    ConnectorSink.clear("mqtt", "plain-endpoint")
    ConnectorSink("mqtt", "plain-endpoint").writeBatch(spark.range(1).select(col("id")))
    assert(ConnectorSink.sent("mqtt", "plain-endpoint") == Vector("""{"id":0}"""))
  }

  // ---- EdgeX message-bus envelope over the real brokers ----

  test("edgex: envelope codec — base64 payload, typed readings, request wrapper, skips nameless") {
    import graft.sources.Edgex
    // sink-built envelope decodes back to the same flat object
    val env = Edgex.envelope("""{"temperature":21.5,"humidity":55,"ok":true,"tag":"a"}""")
    val flat = Edgex.decodeEnvelope(env).get
    val parsed = org.json4s.jackson.JsonMethods.parse(flat)
    import org.json4s._
    assert((parsed \ "temperature") == JDouble(21.5))
    assert((parsed \ "humidity") == JLong(55) || (parsed \ "humidity") == JInt(55), parsed \ "humidity")
    assert((parsed \ "ok") == JBool(true))
    assert((parsed \ "tag") == JString("a"))
    // request messageType wraps the event one level deeper
    val reqEnv = Edgex.envelope("""{"v":7}""", messageType = "request")
    assert(Edgex.decodeEnvelope(reqEnv, "request").isDefined)
    assert(Edgex.decodeEnvelope(reqEnv, "request").get.contains("\"v\":7"))
    // hand-built envelope with an inline payload and a nameless reading
    val inline = """{"apiVersion":"v3","payload":{"deviceName":"d","readings":[
      {"resourceName":"x","valueType":"Int32","value":"5"},
      {"resourceName":"","valueType":"String","value":"skipme"},
      {"resourceName":"arr","valueType":"Float64Array","value":"[1.5,2.5]"}]}}"""
    val flat2 = org.json4s.jackson.JsonMethods.parse(Edgex.decodeEnvelope(inline).get)
    assert((flat2 \ "x") == JLong(5) || (flat2 \ "x") == JInt(5))
    assert((flat2 \ "arr") == JArray(List(JDouble(1.5), JDouble(2.5))))
    assert((flat2 \ "skipme") == JNothing && !flat2.values.asInstanceOf[Map[String, _]].contains(""))
    // an event with no readings is ignored, like the reference
    assert(Edgex.decodeEnvelope("""{"payload":{"deviceName":"d","readings":[]}}""").isEmpty)
  }

  test("edgex e2e: typed-reading rule from a live mqtt message bus (no stub transport)") {
    val broker = MqttBroker.start()
    try {
      ConnectorFeed.clear("edgex", "edgex/events")
      val src = ConnectorSource("edgex", "edgex/events",
        StructType.fromDDL("temperature double, humidity bigint"),
        Map("server" -> broker.address))
      assert(src.batch(spark).count() == 0) // starts the envelope-decoding bridge
      // a device publishes real envelopes on the real bus
      val device = MqttClient.connect(broker.address, "edgex-device")
      device.publish("edgex/events",
        graft.sources.Edgex.envelope("""{"temperature":20.0,"humidity":60}""", deviceName = "dev1"))
      device.publish("edgex/events",
        graft.sources.Edgex.envelope("""{"temperature":23.5,"humidity":40}""", deviceName = "dev1"))
      awaitCond(src.batch(spark).count() == 2, "two envelopes decoded into the feed")
      val rows = src.batch(spark).orderBy("humidity")
        .select("temperature", "humidity").collect()
        .map(r => (r.getDouble(0), r.getLong(1)))
      assert(rows.toSeq == Seq((23.5, 40L), (20.0, 60L)))
      device.close()
    } finally { FeedBridges.closeAll(); broker.close() }
  }

  test("edgex e2e: sink wraps rows in envelopes a bus consumer can decode") {
    val broker = MqttBroker.start()
    try {
      val got = new ConcurrentLinkedQueue[String]()
      val consumer = MqttClient.connect(broker.address, "edgex-consumer")
      consumer.subscribe("edgex/out", (_, p) => got.add(new String(p, StandardCharsets.UTF_8)))
      val df = spark.range(2).select(col("id"), (col("id") * 1.5).as("score"))
      ConnectorSink("edgex", s"${broker.address}/edgex/out").writeBatch(df)
      awaitCond(got.size == 2, "two envelopes at the bus consumer")
      val flats = got.toArray.map(e =>
        graft.sources.Edgex.decodeEnvelope(e.toString).get).toSet
      assert(flats == Set("""{"id":0,"score":0.0}""", """{"id":1,"score":1.5}"""))
      consumer.close()
    } finally broker.close()
  }

  // ---- Kafka (wire protocol, pinned Produce v3 / Fetch v4 / ListOffsets v1) ----

  test("kafka: record batch v2 codec — zigzag varints, crc32c, round-trip") {
    import Kafka._
    // zigzag spot checks (protocol spec examples)
    val zz = new java.io.ByteArrayOutputStream()
    writeVarlong(zz, 0L); writeVarlong(zz, -1L); writeVarlong(zz, 1L); writeVarlong(zz, 150L)
    assert(zz.toByteArray.toSeq == Seq[Byte](0x00, 0x01, 0x02, 0xac.toByte, 0x02))
    val rb = java.nio.ByteBuffer.wrap(zz.toByteArray)
    assert(Seq.fill(4)(readVarlong(rb)) == Seq(0L, -1L, 1L, 150L))
    // batch layout: header fields at their spec positions
    val batch = encodeBatch(7L, 1700000000000L,
      Seq("k1".getBytes -> "v1".getBytes, (null: Array[Byte]) -> "v2".getBytes))
    val bb = java.nio.ByteBuffer.wrap(batch)
    assert(bb.getLong == 7L) // baseOffset
    assert(bb.getInt == batch.length - 12) // batchLength covers the rest
    assert(bb.getInt == -1) // partitionLeaderEpoch
    assert(bb.get() == 2) // magic: message format v2
    // decode round-trips content, offsets, timestamps — and validates crc
    val recs = decodeBatches(batch)
    assert(recs.map(_.offset) == Seq(7L, 8L))
    assert(recs.map(r => new String(r.value, StandardCharsets.UTF_8)) == Seq("v1", "v2"))
    assert(new String(recs.head.key, StandardCharsets.UTF_8) == "k1" && recs(1).key == null)
    assert(recs.forall(_.timestamp == 1700000000000L))
    // a flipped payload bit must fail the crc check
    val corrupt = batch.clone(); corrupt(batch.length - 1) = (corrupt(batch.length - 1) ^ 1).toByte
    intercept[IllegalArgumentException](decodeBatches(corrupt))
  }

  test("kafka: produce/fetch/listOffsets round-trip through the stub broker") {
    val broker = KafkaStubBroker.start()
    try {
      val c = KafkaClient.connect(broker.address)
      assert(c.earliestOffset("t1", 0) == 0L && c.latestOffset("t1", 0) == 0L)
      assert(c.produceStrings("t1", 0, Seq("a", "b", "c")) == 0L)
      assert(c.produceStrings("t1", 0, Seq("d")) == 3L) // offsets continue
      assert(c.latestOffset("t1", 0) == 4L)
      val (hw, recs) = c.fetch("t1", 0, 0L)
      assert(hw == 4L)
      assert(recs.map(_.offset) == Seq(0L, 1L, 2L, 3L))
      assert(recs.map(r => new String(r.value, StandardCharsets.UTF_8)) == Seq("a", "b", "c", "d"))
      // fetch from a mid-log offset skips the records below it
      val (_, tail) = c.fetch("t1", 0, 2L)
      assert(tail.map(r => new String(r.value, StandardCharsets.UTF_8)) == Seq("c", "d"))
      c.close()
    } finally broker.close()
  }

  test("kafka: SASL PLAIN gate — reject wrong creds, accept right ones") {
    val broker = KafkaStubBroker.start(sasl = Some("kuser" -> "kpass"))
    try {
      val bad = intercept[java.io.IOException](
        KafkaClient.connect(broker.address, sasl = Some("kuser" -> "wrong")))
      assert(bad.getMessage.contains("SASL"), bad.getMessage)
      // unauthenticated traffic is dropped (connection closed)
      intercept[Exception] {
        val anon = KafkaClient.connect(broker.address)
        anon.produceStrings("t", 0, Seq("x"))
      }
      val c = KafkaClient.connect(broker.address, sasl = Some("kuser" -> "kpass"))
      assert(c.produceStrings("t", 0, Seq("hello")) == 0L)
      val (_, recs) = c.fetch("t", 0, 0L)
      assert(recs.map(r => new String(r.value, StandardCharsets.UTF_8)) == Seq("hello"))
      c.close()
    } finally broker.close()
  }

  test("kafka e2e: connector source tails the topic; connector sink produces to it") {
    val broker = KafkaStubBroker.start()
    try {
      ConnectorFeed.clear("kafka", "net/k")
      val src = ConnectorSource("kafka", "net/k",
        StructType.fromDDL("v bigint"), Map("server" -> broker.address))
      assert(src.batch(spark).count() == 0) // starts the fetch-loop bridge at latest
      val producer = KafkaClient.connect(broker.address)
      producer.produceStrings("net/k", 0, Seq("""{"v":1}""", """{"v":2}"""))
      awaitCond(src.batch(spark).count() == 2, "fetched records landing in the feed")
      assert(src.batch(spark).agg(sum("v")).first().getLong(0) == 3L)
      producer.close()
      // sink side: rows become records on the topic
      val df = spark.range(3).select(col("id"))
      ConnectorSink("kafka", s"${broker.address}/net/kout").writeBatch(df)
      awaitCond(broker.highWatermark("net/kout", 0) == 3L, "three produced rows")
      val consumer = KafkaClient.connect(broker.address)
      val (_, recs) = consumer.fetch("net/kout", 0, 0L)
      assert(recs.map(r => new String(r.value, StandardCharsets.UTF_8)).toSet ==
        Set("""{"id":0}""", """{"id":1}""", """{"id":2}"""))
      consumer.close()
    } finally { FeedBridges.closeAll(); broker.close() }
  }

  test("kafka: kafkas TLS round-trip with CA validation") {
    val broker = KafkaStubBroker.start(tls = Some(TlsTestCerts.serverConfig))
    try {
      val cfg = Some(Tls.ClientConfig(rootCaPath = Some(TlsTestCerts.certPath)))
      val url = "kafkas://" + broker.address.stripPrefix("kafka://")
      val c = KafkaClient.connect(url, tls = cfg)
      assert(c.produceStrings("sec", 0, Seq("enc")) == 0L)
      assert(c.fetch("sec", 0, 0L)._2.map(r =>
        new String(r.value, StandardCharsets.UTF_8)) == Seq("enc"))
      c.close()
    } finally broker.close()
  }

  // ---- authentication ----

  test("mqtt auth: credentialed broker refuses anonymous (code 5) and wrong creds (code 4)") {
    val broker = MqttBroker.start(credentials = Some("alice" -> "s3cret"))
    try {
      val anon = intercept[IllegalArgumentException](MqttClient.connect(broker.address, "anon"))
      assert(anon.getMessage.contains("code 5"), anon.getMessage)
      val bad = intercept[IllegalArgumentException](
        MqttClient.connect(broker.address, "bad", Some("alice"), Some("wrong")))
      assert(bad.getMessage.contains("code 4"), bad.getMessage)
    } finally broker.close()
  }

  test("mqtt auth: correct credentials connect and round-trip QoS-1 publish/subscribe") {
    val broker = MqttBroker.start(credentials = Some("alice" -> "s3cret"))
    try {
      val got = new ConcurrentLinkedQueue[String]()
      val sub = MqttClient.connect(broker.address, "auth-sub", Some("alice"), Some("s3cret"))
      sub.subscribe("auth/t", (_, p) => got.add(new String(p, StandardCharsets.UTF_8)))
      val pub = MqttClient.connect(broker.address, "auth-pub", Some("alice"), Some("s3cret"))
      pub.publish("auth/t", "hello") // blocks on PUBACK through the auth'd session
      awaitCond(got.size == 1, "delivery over the credentialed session")
      assert(got.peek() == "hello")
      sub.close(); pub.close()
    } finally broker.close()
  }

  test("mqtt auth: connectPacket/parseConnect round-trip, incl. the will-flag field skip") {
    import Mqtt._
    val info = parseConnect(connectPacket("cid-1", username = Some("u"), password = Some("pw")))
    assert(info == ConnectInfo("cid-1", Some("u"), Some("pw")))
    assert(parseConnect(connectPacket("plain")) == ConnectInfo("plain", None, None))
    // hand-build a CONNECT with the will flag set: parseConnect must skip
    // will-topic + will-message before reading username/password
    val b = new java.io.ByteArrayOutputStream()
    putString(b, "MQTT"); b.write(4)
    b.write(0x80 | 0x40 | 0x04 | 0x02) // username | password | will | clean session
    b.write(0); b.write(60)
    putString(b, "willed"); putString(b, "last/topic"); putString(b, "gone")
    putString(b, "u2"); putString(b, "p2")
    assert(parseConnect(b.toByteArray) == ConnectInfo("willed", Some("u2"), Some("p2")))
  }

  test("mqtt auth: DDL USERNAME/PASSWORD props reach the broker through the source bridge") {
    val broker = MqttBroker.start(credentials = Some("rule" -> "pw1"))
    try {
      ConnectorFeed.clear("mqtt", "auth/in")
      // wrong creds in the DDL options → the bridge's CONNECT is refused
      intercept[IllegalArgumentException] {
        ConnectorSource("mqtt", "auth/in", StructType.fromDDL("v bigint"),
          Map("server" -> broker.address, "username" -> "rule", "password" -> "no"))
          .batch(spark)
      }
      val src = ConnectorSource("mqtt", "auth/in", StructType.fromDDL("v bigint"),
        Map("server" -> broker.address, "username" -> "rule", "password" -> "pw1"))
      assert(src.batch(spark).count() == 0) // starts the credentialed bridge
      val pub = MqttClient.connect(broker.address, "auth-ext", Some("rule"), Some("pw1"))
      pub.publish("auth/in", """{"v":9}""")
      awaitCond(src.batch(spark).count() == 1, "frame through the credentialed bridge")
      assert(src.batch(spark).select("v").first().getLong(0) == 9L)
      pub.close()
    } finally { FeedBridges.closeAll(); broker.close() }
  }

  test("redis auth: AUTH gate — reject wrong password, NOAUTH before auth, accept right one") {
    val server = RedisStubServer.start(password = Some("redispw"))
    try {
      // wrong password → connect throws (AUTH rejected inline)
      val bad = intercept[java.io.IOException](
        RedisClient.connect(server.address, password = Some("nope")))
      assert(bad.getMessage.contains("AUTH failed"), bad.getMessage)
      // no AUTH at all → commands refused with -NOAUTH
      val anon = RedisClient.connect(server.address)
      val noauth = intercept[java.io.IOException](anon.ping())
      assert(noauth.getMessage.contains("NOAUTH"), noauth.getMessage)
      anon.close()
      // right password → full pub/sub round-trip
      val got = new ConcurrentLinkedQueue[String]()
      val sub = RedisClient.connect(server.address, password = Some("redispw"))
      sub.subscribe("auth-ch", got.add(_))
      val pub = RedisClient.connect(server.address, password = Some("redispw"))
      assert(pub.publishChannel("auth-ch", "a1") == 1L)
      awaitCond(got.size == 1, "delivery over the authenticated connections")
      assert(got.peek() == "a1")
      sub.close(); pub.close()
    } finally server.close()
  }

  // ---- TLS (props named after the reference's pkg/cert layer) ----

  test("tls: mqtt publish/subscribe round-trips over an SSL listener with CA validation") {
    val broker = MqttBroker.start(tls = Some(TlsTestCerts.serverConfig))
    try {
      assert(broker.address.startsWith("ssl://"), broker.address)
      val cfg = Some(Tls.ClientConfig(rootCaPath = Some(TlsTestCerts.certPath)))
      val got = new ConcurrentLinkedQueue[String]()
      val sub = MqttClient.connect(broker.address, "tls-sub", tls = cfg)
      sub.subscribe("tls/t", (_, p) => got.add(new String(p, StandardCharsets.UTF_8)))
      val pub = MqttClient.connect(broker.address, "tls-pub", tls = cfg)
      pub.publish("tls/t", "secure")
      awaitCond(got.size == 1, "delivery over TLS")
      assert(got.peek() == "secure")
      sub.close(); pub.close()
    } finally broker.close()
  }

  test("tls: websocket hub round-trips over wss with skipCertVerify") {
    val hub = WebSocketHub.start(tls = Some(TlsTestCerts.serverConfig))
    try {
      assert(hub.url.startsWith("wss://"), hub.url)
      val cfg = Some(Tls.ClientConfig(skipCertVerify = true))
      val got = new ConcurrentLinkedQueue[String]()
      val listener = WebSocketClient.connect(hub.url, tls = cfg)
      listener.onText(got.add(_))
      val sender = WebSocketClient.connect(hub.url, tls = cfg)
      sender.sendText("""{"tls":1}""")
      awaitCond(got.size == 1, "wss broadcast")
      assert(got.peek() == """{"tls":1}""")
      sender.close(); listener.close()
    } finally hub.close()
  }

  test("tls: redis pub/sub round-trips over rediss with CA validation") {
    val server = RedisStubServer.start(tls = Some(TlsTestCerts.serverConfig))
    try {
      assert(server.address.startsWith("rediss://"), server.address)
      val cfg = Some(Tls.ClientConfig(rootCaPath = Some(TlsTestCerts.certPath)))
      val got = new ConcurrentLinkedQueue[String]()
      val sub = RedisClient.connect(server.address, tls = cfg)
      sub.subscribe("tls-ch", got.add(_))
      val pub = RedisClient.connect(server.address, tls = cfg)
      assert(pub.publishChannel("tls-ch", "enc") == 1L)
      awaitCond(got.size == 1, "delivery over rediss")
      assert(got.peek() == "enc")
      sub.close(); pub.close()
    } finally server.close()
  }

  test("tls: plaintext client against a TLS listener fails instead of hanging") {
    val broker = MqttBroker.start(tls = Some(TlsTestCerts.serverConfig))
    try {
      intercept[Exception] {
        // strip the scheme down to tcp:// — no TLS config → plain socket
        val plain = "tcp://" + broker.address.stripPrefix("ssl://")
        MqttClient.connect(plain, "plain-vs-tls")
      }
    } finally broker.close()
  }

  test("tls: clientFromOptions maps the reference's cert props") {
    assert(Tls.clientFromOptions(Map("format" -> "json")).isEmpty)
    assert(Tls.clientFromOptions(Map("tls" -> "true")).contains(Tls.ClientConfig(None, false)))
    assert(Tls.clientFromOptions(Map("skipCertVerify" -> "true"))
      .contains(Tls.ClientConfig(None, true)))
    assert(Tls.clientFromOptions(Map("rootCaPath" -> "/ca.pem"))
      .contains(Tls.ClientConfig(Some("/ca.pem"), false)))
  }

  test("down sampling: latest-wins per interval, close flushes") {
    ConnectorFeed.clear("mqtt", "ds_latest")
    // interval far in the future → only close() flushes (deterministic)
    val s = new DownSampler("mqtt", "ds_latest", 60000, None)
    s.offer("""{"v":1}"""); s.offer("""{"v":2}"""); s.offer("""{"v":3}""")
    s.close()
    val rows = ConnectorFeed.frames(spark, "mqtt", "ds_latest")
      .select("frame").collect().map(_.getString(0))
    assert(rows.toSeq === Seq("""{"v":3}"""))
  }

  test("down sampling: mergeField batches last-per-key as frames[]") {
    ConnectorFeed.clear("mqtt", "ds_merge")
    val s = new DownSampler("mqtt", "ds_merge", 60000, Some("id"))
    s.offer("""{"id":2,"v":"b"}""")
    s.offer("""{"id":1,"v":"a"}""")
    s.offer("""{"id":1,"v":"a2"}""") // last per id=1 wins
    s.offer("""not json""") // dropped
    s.offer("""{"v":"no id"}""") // dropped: merge field absent
    s.close()
    val rows = ConnectorFeed.frames(spark, "mqtt", "ds_merge")
      .select("frame").collect().map(_.getString(0))
    assert(rows.length === 1)
    assert(rows(0) ===
      """{"frames":[{"data":{"id":1,"v":"a2"}},{"data":{"id":2,"v":"b"}}]}""")
  }

  test("down sampling: INTERVAL prop on an mqtt stream thins the live feed") {
    val broker = MqttBroker.start()
    try {
      ConnectorFeed.clear("mqtt", "ds_live")
      FeedBridges.ensure("mqtt", "ds_live", broker.address,
        Map("interval" -> "300ms"))
      val pub = MqttClient.connect(broker.address, "ds-pub")
      try {
        (1 to 5).foreach(i => pub.publish("ds_live", s"""{"n":$i}""".getBytes))
        awaitCond(!ConnectorFeed.frames(spark, "mqtt", "ds_live").isEmpty,
          "a sampled frame lands after the tick")
        Thread.sleep(700) // a few more empty ticks — nothing new arrives
        val rows = ConnectorFeed.frames(spark, "mqtt", "ds_live")
          .select("frame").collect().map(_.getString(0))
        assert(rows.length < 5, s"expected thinning, got all ${rows.length}")
        assert(rows.last === """{"n":5}""") // latest survives
      } finally pub.close()
    } finally broker.close()
  }

  // ---- bounded connector feed (long-run retention) ----

  /** Frames `i` a stream over `topic` delivers to a foreachBatch sink. */
  private def feedStream(topic: String, ckpt: Option[String] = None)
      : (org.apache.spark.sql.streaming.StreamingQuery, ConcurrentLinkedQueue[Long]) = {
    val got = new ConcurrentLinkedQueue[Long]()
    val w = ConnectorSource("mqtt", topic, StructType.fromDDL("i bigint")).stream(spark)
      .writeStream.foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.select("i").collect().foreach(r => got.add(r.getLong(0)))
      }
    (ckpt.fold(w)(c => w.option("checkpointLocation", c)).start(), got)
  }

  private def pushI(topic: String, is: Range): Unit =
    is.foreach(i => ConnectorFeed.push("mqtt", topic, s"""{"i":$i}""", i.toLong))

  test("feed bounds: the batch ring holds the newest memCap frames") {
    val saved = ConnectorFeed.memCap
    ConnectorFeed.memCap = 100
    try {
      ConnectorFeed.clear("mqtt", "bounded/ring")
      pushI("bounded/ring", 1 to 2000)
      val mem = ConnectorFeed.frames(spark, "mqtt", "bounded/ring")
        .select(get_json_object(col("frame"), "$.i").cast("long")).collect().map(_.getLong(0))
      assert(mem.toSeq === (1901L to 2000L))
    } finally {
      ConnectorFeed.memCap = saved
      ConnectorFeed.clear("mqtt", "bounded/ring")
    }
  }

  test("feed stream: two streams over one feed each see every frame exactly once") {
    ConnectorFeed.clear("mqtt", "bounded/fanout")
    val (q1, got1) = feedStream("bounded/fanout")
    val (q2, got2) = feedStream("bounded/fanout")
    try {
      pushI("bounded/fanout", 1 to 300) // tight loop, while both streams run
      Seq(q1, q2).foreach(_.processAllAvailable())
      import scala.jdk.CollectionConverters._
      assert(got1.asScala.toSeq.sorted === (1L to 300L))
      assert(got2.asScala.toSeq.sorted === (1L to 300L))
      pushI("bounded/fanout", 301 to 310)
      Seq(q1, q2).foreach(_.processAllAvailable())
      assert(got1.asScala.toSeq.sorted === (1L to 310L))
      assert(got2.asScala.toSeq.sorted === (1L to 310L))
    } finally {
      q1.stop(); q2.stop()
      ConnectorFeed.clear("mqtt", "bounded/fanout")
    }
  }

  test("feed stream: a stream lagging more than memCap frames gets only the newest memCap") {
    val saved = ConnectorFeed.memCap
    ConnectorFeed.memCap = 100
    val ckpt = tempDir("graft_feed_lag_ck").toString
    try {
      ConnectorFeed.clear("mqtt", "bounded/lag")
      pushI("bounded/lag", 1 to 10)
      val (q1, got1) = feedStream("bounded/lag", Some(ckpt))
      try q1.processAllAvailable() finally q1.stop()
      import scala.jdk.CollectionConverters._
      assert(got1.asScala.toSeq.sorted === (1L to 10L))
      // the stream is down while 300 frames arrive: it resumes 300 behind
      pushI("bounded/lag", 11 to 310)
      val (q2, got2) = feedStream("bounded/lag", Some(ckpt))
      try q2.processAllAvailable() finally q2.stop()
      assert(got2.asScala.toSeq.sorted === (211L to 310L))
    } finally {
      ConnectorFeed.memCap = saved
      ConnectorFeed.clear("mqtt", "bounded/lag")
    }
  }

  test("feed stream: a checkpoint from another process resumes at the retained log") {
    val ckpt = tempDir("graft_feed_epoch_ck")
    ConnectorFeed.clear("mqtt", "bounded/epoch")
    try {
      val (q1, _) = feedStream("bounded/epoch", Some(ckpt.toString))
      try {
        pushI("bounded/epoch", 1 to 2); q1.processAllAvailable()
        pushI("bounded/epoch", 3 to 5); q1.processAllAvailable()
      } finally q1.stop()
      // pretend another JVM wrote the checkpoint: its offsets carry a
      // foreign epoch, and its last batch never committed
      import scala.jdk.CollectionConverters._
      val offsets = java.nio.file.Files.list(ckpt.resolve("offsets")).iterator().asScala
        .filter(_.getFileName.toString.forall(_.isDigit)).toSeq
      assert(offsets.size >= 2)
      offsets.foreach { f =>
        val txt = new String(java.nio.file.Files.readAllBytes(f), StandardCharsets.UTF_8)
        java.nio.file.Files.write(f, txt.replaceAll(""""epoch":"[^"]*"""", """"epoch":"elsewhere"""")
          .getBytes(StandardCharsets.UTF_8))
        java.nio.file.Files.deleteIfExists(f.resolveSibling(s".${f.getFileName}.crc"))
      }
      val last = offsets.map(_.getFileName.toString.toLong).max
      java.nio.file.Files.delete(ckpt.resolve(s"commits/$last"))
      pushI("bounded/epoch", 6 to 8)
      val (q2, got2) = feedStream("bounded/epoch", Some(ckpt.toString))
      try q2.processAllAvailable() finally q2.stop()
      assert(got2.asScala.toSeq.sorted === (1L to 8L))
    } finally ConnectorFeed.clear("mqtt", "bounded/epoch")
  }

  test("feed: pushing frames writes nothing under java.io.tmpdir") {
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    def graftEntries = tmp.list().filter(_.startsWith("graft")).toSet
    val before = graftEntries
    ConnectorFeed.clear("mqtt", "bounded/nofiles")
    pushI("bounded/nofiles", 1 to 500)
    assert(ConnectorFeed.frames(spark, "mqtt", "bounded/nofiles").count() === 500)
    assert(graftEntries -- before === Set.empty[String])
    ConnectorFeed.clear("mqtt", "bounded/nofiles")
  }
}

/** Self-signed test certificate, generated once per JVM with the JDK's
  * own keytool, then re-exported as the PEM pair the reference's cert
  * props (pkg/cert/cert.go) expect: a certificate PEM (also used as the
  * client's rootCaPath — self-signed) and an unencrypted PKCS#8 key PEM.
  */
object TlsTestCerts {
  lazy val (certPath: String, keyPath: String) = {
    val dir = TempDirs.create("graft-tls")
    val ks = dir.resolve("ks.p12")
    import scala.sys.process._
    val rc = Seq("keytool", "-genkeypair", "-alias", "graft", "-keyalg", "RSA",
      "-keysize", "2048", "-storetype", "PKCS12", "-keystore", ks.toString,
      "-storepass", "changeit", "-dname", "CN=127.0.0.1", "-validity", "3650",
      "-ext", "san=ip:127.0.0.1").!
    require(rc == 0, s"keytool exited $rc")
    val store = java.security.KeyStore.getInstance("PKCS12")
    val fin = new java.io.FileInputStream(ks.toFile)
    try store.load(fin, "changeit".toCharArray) finally fin.close()
    val key = store.getKey("graft", "changeit".toCharArray)
    val cert = store.getCertificate("graft")
    def pem(label: String, der: Array[Byte]): String =
      s"-----BEGIN $label-----\n" +
        java.util.Base64.getMimeEncoder(64, "\n".getBytes(StandardCharsets.US_ASCII))
          .encodeToString(der) +
        s"\n-----END $label-----\n"
    val certFile = dir.resolve("server.crt")
    val keyFile = dir.resolve("server.key")
    java.nio.file.Files.write(certFile,
      pem("CERTIFICATE", cert.getEncoded).getBytes(StandardCharsets.US_ASCII))
    java.nio.file.Files.write(keyFile,
      pem("PRIVATE KEY", key.getEncoded).getBytes(StandardCharsets.US_ASCII))
    (certFile.toString, keyFile.toString)
  }

  def serverConfig: Tls.ServerConfig = Tls.ServerConfig(certPath, keyPath)
}
