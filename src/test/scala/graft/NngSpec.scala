package graft

import graft.net.{NngEndpoints, NngListener, NngPair}
import graft.sinks.ConnectorSink
import graft.sources.{ConnectorFeed, ConnectorSource}
import org.apache.spark.sql.types.StructType
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.ConcurrentLinkedQueue

/** SP PAIR (nanomsg TCP mapping) wire tests and the neuron connector
  * integration riding it — the listener double stands in for the
  * neuron daemon's pair endpoint.
  */
class NngSpec extends SparkSuite {

  private def awaitCond(cond: => Boolean, what: String): Unit = {
    val deadline = System.nanoTime() + 5L * 1000 * 1000 * 1000
    while (!cond && System.nanoTime() < deadline) Thread.sleep(20)
    assert(cond, s"timed out waiting for $what")
  }

  test("nng pair: full-duplex round-trip over the SP TCP mapping") {
    val daemon = NngListener.bind()
    try {
      val atDaemon = new ConcurrentLinkedQueue[String]()
      val atClient = new ConcurrentLinkedQueue[String]()
      daemon.onMessage(b => atDaemon.add(new String(b, UTF_8)))
      val cli = NngPair.dial(daemon.address)
      try {
        cli.onMessage(b => atClient.add(new String(b, UTF_8)))
        awaitCond(daemon.hasPeer, "pair handshake")
        cli.send("from-client".getBytes(UTF_8))
        awaitCond(atDaemon.size == 1, "daemon delivery")
        assert(atDaemon.peek() == "from-client")
        daemon.send("from-daemon".getBytes(UTF_8))
        awaitCond(atClient.size == 1, "client delivery")
        assert(atClient.peek() == "from-daemon")
      } finally cli.close()
    } finally daemon.close()
  }

  test("nng listener: a closed listener's port can be rebound at once") {
    // the acceptor thread sits in accept(); close() must not return
    // while that call still holds the listening socket
    for (_ <- 1 to 50) {
      val daemon = NngListener.bind()
      val port = daemon.port
      Thread.sleep(5)
      daemon.close()
      NngListener.bind(port).close()
    }
  }

  test("nng pair: protocol mismatch is refused at handshake") {
    // a raw socket sending a PUB (32) header must be rejected by PAIR
    val daemon = NngListener.bind()
    try {
      val s = new java.net.Socket("127.0.0.1", daemon.port)
      try {
        val out = new java.io.DataOutputStream(s.getOutputStream)
        out.write(Array[Byte](0, 'S', 'P', 0, 0, 32, 0, 0)); out.flush()
        // the daemon drops the connection; it must NOT become the peer
        Thread.sleep(200)
        assert(!daemon.hasPeer)
      } finally s.close()
    } finally daemon.close()
  }

  test("nng pair: malformed frame flips isOpen false (redial signal)") {
    // a daemon that handshakes correctly then sends a negative length
    // prefix: readMsg's require throws IllegalArgumentException — the
    // reader must mark the pair dead, not die with isOpen stuck true
    val server = new java.net.ServerSocket(0, 1, java.net.InetAddress.getByName("127.0.0.1"))
    val t = new Thread(() => {
      try {
        val s = server.accept()
        val in = new java.io.DataInputStream(s.getInputStream)
        val out = new java.io.DataOutputStream(s.getOutputStream)
        out.write(Array[Byte](0, 'S', 'P', 0, 0, 16, 0, 0)); out.flush()
        val peer = new Array[Byte](8); in.readFully(peer)
        out.write(Array.fill[Byte](8)(0xFF.toByte)); out.flush() // length = -1
      } catch { case _: Exception => () }
    })
    t.setDaemon(true); t.start()
    val cli = NngPair.dial(s"tcp://127.0.0.1:${server.getLocalPort}")
    try awaitCond(!cli.isOpen, "isOpen to flip false on malformed frame")
    finally { cli.close(); server.close() }
  }

  test("nng listener: a silent peer cannot wedge the accept loop") {
    val daemon = NngListener.bind()
    try {
      val silent = new java.net.Socket("127.0.0.1", daemon.port)
      try {
        // never sends its SP header; a real peer must still connect
        val cli = NngPair.dial(daemon.address)
        try {
          awaitCond(daemon.hasPeer, "real peer handshake behind silent socket")
          val got = new ConcurrentLinkedQueue[String]()
          daemon.onMessage(b => got.add(new String(b, UTF_8)))
          cli.send("alive".getBytes(UTF_8))
          awaitCond(got.size == 1, "delivery with silent peer connected")
        } finally cli.close()
      } finally silent.close()
    } finally daemon.close()
  }

  test("neuron source: daemon-pushed readings arrive as typed rows") {
    val daemon = NngListener.bind()
    try {
      ConnectorFeed.clear("neuron", "nin")
      val src = ConnectorSource("neuron", "nin",
        StructType.fromDDL("node_name string, group_name string, v double"),
        Map("server" -> daemon.address))
      src.batch(spark) // starts the dial bridge
      awaitCond(daemon.hasPeer, "bridge pair peer")
      daemon.send(
        """{"node_name":"n1","group_name":"g1","v":1.5}""".getBytes(UTF_8))
      daemon.send(
        """{"node_name":"n1","group_name":"g2","v":2.5}""".getBytes(UTF_8))
      awaitCond(
        ConnectorFeed.frames(spark, "neuron", "nin").count() == 2, "frames spooled")
      val rows = src.batch(spark).select("group_name", "v").collect()
      assert(rows.map(r => (r.getString(0), r.getDouble(1))).toSet ==
        Set(("g1", 1.5), ("g2", 2.5)))
    } finally {
      graft.net.FeedBridges.closeAll()
      daemon.close()
    }
  }

  test("neuron sink: rows flow to the daemon over the shared pair socket") {
    import spark.implicits._
    val daemon = NngListener.bind()
    try {
      val got = new ConcurrentLinkedQueue[String]()
      daemon.onMessage(b => got.add(new String(b, UTF_8)))
      val sink = ConnectorSink("neuron", daemon.address, Map("format" -> "json"))
      sink.writeBatch(Seq(("n1", 42.0)).toDF("node_name", "v"))
      awaitCond(got.size == 1, "sink delivery")
      assert(got.peek().contains("\"node_name\":\"n1\"") && got.peek().contains("\"v\":42.0"))
    } finally {
      NngEndpoints.closeAll()
      daemon.close()
    }
  }
}
