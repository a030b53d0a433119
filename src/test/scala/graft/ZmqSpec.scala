package graft

import graft.net.{ZmqEndpoints, ZmqPub, ZmqSub}
import graft.sinks.ConnectorSink
import graft.sources.{ConnectorFeed, ConnectorSource}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.ConcurrentLinkedQueue

/** ZMTP 3.0 wire-protocol tests: PUB/SUB handshake, subscription
  * prefix filtering, multipart topic framing, and the connector
  * integration (zmq stream DDL via FeedBridges, zmq sink endpoint).
  */
class ZmqSpec extends SparkSuite {

  private def awaitCond(cond: => Boolean, what: String): Unit = {
    val deadline = System.nanoTime() + 15L * 1000 * 1000 * 1000
    while (!cond && System.nanoTime() < deadline) Thread.sleep(20)
    assert(cond, s"timed out waiting for $what")
  }

  test("zmq: pub/sub round-trip with topic frame") {
    val pub = ZmqPub.bind()
    try {
      val got = new ConcurrentLinkedQueue[(String, String)]()
      val sub = ZmqSub.connect(pub.address, "sensors")
      try {
        sub.onMessage((t, p) => got.add(t -> new String(p, UTF_8)))
        awaitCond(pub.peerCount == 1, "subscriber handshake")
        Thread.sleep(300) // let the subscription frame land (slack for loaded-box runs)
        pub.publish("sensors", "{\"t\":21}".getBytes(UTF_8))
        pub.publish("other", "{\"t\":99}".getBytes(UTF_8)) // filtered server-side
        pub.publish("sensors2", "{\"t\":22}".getBytes(UTF_8)) // prefix match
        awaitCond(got.size == 2, "two prefix-matched deliveries")
        assert(got.toArray.toSet == Set(
          "sensors" -> "{\"t\":21}", "sensors2" -> "{\"t\":22}"))
      } finally sub.close()
    } finally pub.close()
  }

  test("zmq: empty subscription receives everything as single frames") {
    val pub = ZmqPub.bind()
    try {
      val got = new ConcurrentLinkedQueue[String]()
      val sub = ZmqSub.connect(pub.address, "")
      try {
        sub.onMessage((_, p) => got.add(new String(p, UTF_8)))
        awaitCond(pub.peerCount == 1, "subscriber handshake")
        Thread.sleep(300)
        pub.publish("", "raw-payload".getBytes(UTF_8))
        awaitCond(got.size == 1, "single-frame delivery")
        assert(got.peek() == "raw-payload")
      } finally sub.close()
    } finally pub.close()
  }

  test("zmq: a silent peer cannot wedge the PUB accept loop") {
    val pub = ZmqPub.bind()
    try {
      // connects and never sends the ZMTP greeting — must not block
      // later subscribers (handshake runs per-peer, not in accept())
      val silent = new java.net.Socket("127.0.0.1", pub.port)
      try {
        val got = new ConcurrentLinkedQueue[String]()
        val sub = ZmqSub.connect(pub.address, "")
        try {
          sub.onMessage((_, p) => got.add(new String(p, UTF_8)))
          awaitCond(pub.peerCount == 1, "real subscriber handshake behind silent peer")
          Thread.sleep(300)
          pub.publish("", "still-works".getBytes(UTF_8))
          awaitCond(got.size == 1, "delivery with silent peer connected")
        } finally sub.close()
      } finally silent.close()
    } finally pub.close()
  }

  test("zmq: malformed frame kills the reader and flips isOpen (redial signal)") {
    // a raw ZMTP server that greets correctly then sends garbage: the
    // SUB reader must not die silently with isOpen stuck true
    val server = new java.net.ServerSocket(0, 1, java.net.InetAddress.getByName("127.0.0.1"))
    val t = new Thread(() => {
      try {
        val s = server.accept()
        val in = new java.io.DataInputStream(new java.io.BufferedInputStream(s.getInputStream))
        val out = new java.io.DataOutputStream(s.getOutputStream)
        graft.net.Zmtp.handshake(in, out, asServer = true, socketType = "PUB",
          accept = Set("SUB", "XSUB"))
        // long-form frame with a negative length: readFrame's require
        // throws IllegalArgumentException (not EOF/SocketException)
        out.write(Array.fill[Byte](9)(0xFF.toByte))
        out.flush()
      } catch { case _: Exception => () }
    })
    t.setDaemon(true); t.start()
    val sub = ZmqSub.connect(s"tcp://127.0.0.1:${server.getLocalPort}", "")
    try awaitCond(!sub.isOpen, "isOpen to flip false on malformed frame")
    finally { sub.close(); server.close() }
  }

  test("zmq: large frames use the 8-octet length form") {
    val pub = ZmqPub.bind()
    try {
      val got = new ConcurrentLinkedQueue[Int]()
      val sub = ZmqSub.connect(pub.address, "big")
      try {
        sub.onMessage((_, p) => got.add(p.length))
        awaitCond(pub.peerCount == 1, "subscriber handshake")
        Thread.sleep(300)
        val payload = Array.fill[Byte](70000)('x')
        pub.publish("big", payload)
        awaitCond(got.size == 1, "long-frame delivery")
        assert(got.peek() == 70000)
      } finally sub.close()
    } finally pub.close()
  }

  test("zmq: stream DDL rides the SUB bridge into a typed batch") {
    val pub = ZmqPub.bind()
    try {
      ConnectorFeed.clear("zmq", "zin")
      val src = ConnectorSource("zmq", "zin",
        StructType.fromDDL("device string, temp double"),
        Map("server" -> pub.address))
      src.batch(spark) // ensures the bridge (empty batch is fine)
      awaitCond(pub.peerCount == 1, "bridge subscriber")
      Thread.sleep(300)
      pub.publish("zin", "{\"device\":\"a\",\"temp\":21.5}".getBytes(UTF_8))
      pub.publish("zin", "{\"device\":\"b\",\"temp\":22.5}".getBytes(UTF_8))
      awaitCond(
        ConnectorFeed.frames(spark, "zmq", "zin").count() == 2, "frames spooled")
      val rows = src.batch(spark).select("device", "temp").collect()
      assert(rows.map(r => (r.getString(0), r.getDouble(1))).toSet ==
        Set(("a", 21.5), ("b", 22.5)))
    } finally {
      graft.net.FeedBridges.closeAll()
      pub.close()
    }
  }

  test("zmq: a closed publisher's port can be rebound at once") {
    // the acceptor thread sits in accept(); close() must not return
    // while that call still holds the listening socket
    for (_ <- 1 to 50) {
      val pub = ZmqPub.bind()
      val port = pub.port
      Thread.sleep(5)
      pub.close()
      ZmqPub.bind(port).close()
    }
  }

  test("zmq: bridge redials after the publisher restarts") {
    val port = {
      val probe = new java.net.ServerSocket(0)
      val p = probe.getLocalPort; probe.close(); p
    }
    val pub1 = ZmqPub.bind(port)
    try {
      ConnectorFeed.clear("zmq", "zre")
      val src = ConnectorSource("zmq", "zre",
        StructType.fromDDL("v bigint"), Map("server" -> s"tcp://127.0.0.1:$port"))
      src.batch(spark)
      awaitCond(pub1.peerCount == 1, "first connection")
      Thread.sleep(300)
      pub1.publish("zre", "{\"v\":1}".getBytes(UTF_8))
      awaitCond(ConnectorFeed.frames(spark, "zmq", "zre").count() == 1, "first frame")
      pub1.close() // publisher dies
      val pub2 = ZmqPub.bind(port) // ...and comes back on the same port
      try {
        awaitCond(pub2.peerCount == 1, "supervised redial") // bridge reconnects
        Thread.sleep(150) // resubscription lands
        pub2.publish("zre", "{\"v\":2}".getBytes(UTF_8))
        awaitCond(ConnectorFeed.frames(spark, "zmq", "zre").count() == 2,
          "frame after reconnect")
      } finally pub2.close()
    } finally {
      graft.net.FeedBridges.closeAll()
      pub1.close()
    }
  }

  test("zmq: sink endpoint binds a shared PUB and publishes rows") {
    import spark.implicits._
    val port = {
      val probe = new java.net.ServerSocket(0)
      val p = probe.getLocalPort; probe.close(); p
    }
    try {
      val sink = ConnectorSink("zmq", s"tcp://127.0.0.1:$port/out",
        Map("format" -> "json"))
      // bind happens at first write; pre-bind via the registry so the
      // subscriber can connect before rows flow
      val pub = ZmqEndpoints.pub(s"tcp://127.0.0.1:$port")
      val got = new ConcurrentLinkedQueue[(String, String)]()
      val sub = ZmqSub.connect(s"tcp://127.0.0.1:$port", "out")
      try {
        sub.onMessage((t, p) => got.add(t -> new String(p, UTF_8)))
        awaitCond(pub.peerCount == 1, "subscriber handshake")
        Thread.sleep(300)
        sink.writeBatch(Seq(("a", 1)).toDF("k", "v"))
        awaitCond(got.size == 1, "sink delivery")
        val (topic, payload) = got.peek()
        assert(topic == "out")
        assert(payload.contains("\"k\":\"a\"") && payload.contains("\"v\":1"))
      } finally sub.close()
    } finally ZmqEndpoints.closeAll()
  }
}
