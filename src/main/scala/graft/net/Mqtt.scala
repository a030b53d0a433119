package graft.net

import java.io.{BufferedInputStream, BufferedOutputStream, EOFException, InputStream, OutputStream}
import java.net.{InetAddress, ServerSocket, Socket}
import java.nio.charset.StandardCharsets
import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, LinkedBlockingQueue, TimeUnit}

/** MQTT 3.1.1 wire protocol (OASIS public spec), dependency-free.
  *
  * The reference's mqtt source/sink (internal/io/mqtt/source.go,
  * internal/io/mqtt/sink.go) wrap the paho client; graft implements the
  * protocol itself over JDK sockets so the transport is REAL — framing,
  * handshake, QoS-1 acknowledgement, wildcard subscriptions — and
  * testable in a zero-egress container against the in-process
  * [[MqttBroker]]. Production points the same client at any
  * spec-compliant broker.
  *
  * Packet scope: CONNECT/CONNACK, PUBLISH (QoS 0/1) /PUBACK,
  * SUBSCRIBE/SUBACK, UNSUBSCRIBE/UNSUBACK, PINGREQ/PINGRESP,
  * DISCONNECT — the set the reference's edge rules exercise. QoS 2,
  * retained messages and persistent sessions are out of scope.
  */
object Mqtt {

  // control packet types (spec §2.2.1)
  final val CONNECT = 1
  final val CONNACK = 2
  final val PUBLISH = 3
  final val PUBACK = 4
  final val SUBSCRIBE = 8
  final val SUBACK = 9
  final val UNSUBSCRIBE = 10
  final val UNSUBACK = 11
  final val PINGREQ = 12
  final val PINGRESP = 13
  final val DISCONNECT = 14

  /** One decoded control packet: type, fixed-header flags, body. */
  final case class Packet(ptype: Int, flags: Int, body: Array[Byte])

  // ---- encoding primitives (spec §1.5, §2.2.3) ----

  /** Remaining-length varint: 7 bits per byte, 0x80 continuation. */
  def writeVarint(out: OutputStream, n0: Int): Unit = {
    var n = n0
    do {
      var b = n % 128
      n /= 128
      if (n > 0) b |= 0x80
      out.write(b)
    } while (n > 0)
  }

  def readVarint(in: InputStream): Int = {
    var mult = 1
    var value = 0
    var i = 0
    var cont = true
    while (cont) {
      val b = in.read()
      if (b < 0) throw new EOFException("mqtt: eof in remaining length")
      value += (b & 0x7f) * mult
      mult *= 128
      i += 1
      require(i <= 4, "mqtt: malformed remaining length")
      cont = (b & 0x80) != 0
    }
    value
  }

  /** UTF-8 string: 2-byte big-endian length prefix (spec §1.5.3). */
  def putString(buf: java.io.ByteArrayOutputStream, s: String): Unit = {
    val b = s.getBytes(StandardCharsets.UTF_8)
    require(b.length <= 0xffff, "mqtt: string too long")
    buf.write(b.length >> 8); buf.write(b.length & 0xff); buf.write(b, 0, b.length)
  }

  final class BodyReader(body: Array[Byte]) {
    private var pos = 0
    def remaining: Int = body.length - pos
    def u8(): Int = { val v = body(pos) & 0xff; pos += 1; v }
    def u16(): Int = { val v = ((body(pos) & 0xff) << 8) | (body(pos + 1) & 0xff); pos += 2; v }
    def string(): String = {
      val n = u16()
      val s = new String(body, pos, n, StandardCharsets.UTF_8)
      pos += n; s
    }
    def rest(): Array[Byte] = { val r = java.util.Arrays.copyOfRange(body, pos, body.length); pos = body.length; r }
  }

  def writePacket(out: OutputStream, ptype: Int, flags: Int, body: Array[Byte]): Unit = {
    out.write((ptype << 4) | (flags & 0x0f))
    writeVarint(out, body.length)
    out.write(body)
    out.flush()
  }

  /** Read one packet, or null on clean EOF at a packet boundary. */
  def readPacket(in: InputStream): Packet = {
    val first = in.read()
    if (first < 0) return null
    val len = readVarint(in)
    val body = new Array[Byte](len)
    var off = 0
    while (off < len) {
      val n = in.read(body, off, len - off)
      if (n < 0) throw new EOFException("mqtt: eof in packet body")
      off += n
    }
    Packet(first >> 4, first & 0x0f, body)
  }

  // ---- packet builders ----

  /** CONNECT body (spec §3.1). Username/password flags 0x80/0x40 gate the
    * matching payload fields; password is only legal with username (spec
    * §3.1.2-22), matching the reference's mqtt connection props.
    */
  def connectPacket(clientId: String, keepAliveS: Int = 60,
                    username: Option[String] = None,
                    password: Option[String] = None): Array[Byte] = {
    require(password.isEmpty || username.isDefined,
      "mqtt: password requires username (spec 3.1.2-22)")
    val b = new java.io.ByteArrayOutputStream()
    putString(b, "MQTT")
    b.write(4) // protocol level 3.1.1
    var flags = 0x02 // clean session
    if (username.isDefined) flags |= 0x80
    if (password.isDefined) flags |= 0x40
    b.write(flags)
    b.write(keepAliveS >> 8); b.write(keepAliveS & 0xff)
    putString(b, clientId)
    username.foreach(putString(b, _))
    password.foreach(putString(b, _))
    b.toByteArray
  }

  /** Decoded CONNECT payload fields the broker needs. */
  final case class ConnectInfo(clientId: String, username: Option[String],
                               password: Option[String])

  /** Parse a CONNECT body (spec §3.1): variable header then payload in
    * flag order clientId, [will topic+message], [username], [password].
    */
  def parseConnect(body: Array[Byte]): ConnectInfo = {
    val r = new BodyReader(body)
    val proto = r.string()
    require(proto == "MQTT" || proto == "MQIsdp", s"mqtt: bad protocol name $proto")
    r.u8() // protocol level
    val flags = r.u8()
    r.u16() // keep-alive
    val clientId = r.string()
    if ((flags & 0x04) != 0) { r.string(); r.string() } // will topic + message
    val username = if ((flags & 0x80) != 0) Some(r.string()) else None
    val password = if ((flags & 0x40) != 0) Some(r.string()) else None
    ConnectInfo(clientId, username, password)
  }

  def publishBody(topic: String, packetId: Int, payload: Array[Byte], qos: Int): Array[Byte] = {
    val b = new java.io.ByteArrayOutputStream()
    putString(b, topic)
    if (qos > 0) { b.write(packetId >> 8); b.write(packetId & 0xff) }
    b.write(payload, 0, payload.length)
    b.toByteArray
  }

  def subscribeBody(packetId: Int, filters: Seq[(String, Int)]): Array[Byte] = {
    val b = new java.io.ByteArrayOutputStream()
    b.write(packetId >> 8); b.write(packetId & 0xff)
    filters.foreach { case (f, qos) => putString(b, f); b.write(qos) }
    b.toByteArray
  }

  def packetIdBody(packetId: Int): Array[Byte] =
    Array(((packetId >> 8) & 0xff).toByte, (packetId & 0xff).toByte)

  /** Topic-filter match (spec §4.7): `+` one level, `#` all remaining
    * levels (last position only). Used by broker routing AND exposed
    * for tests.
    */
  def topicMatches(filter: String, topic: String): Boolean = {
    val fs = filter.split("/", -1)
    val ts = topic.split("/", -1)
    var i = 0
    while (i < fs.length) {
      fs(i) match {
        case "#" => return i == fs.length - 1
        case "+" => if (i >= ts.length) return false
        case lit => if (i >= ts.length || ts(i) != lit) return false
      }
      i += 1
    }
    fs.length == ts.length
  }

  /** "tcp://host:port" or "tcp://host:port/base/topic" → (host, port).
    * `ssl://` / `mqtts://` name the TLS listener (same scheme set as the
    * reference's mqtt connection props).
    */
  def parseServer(url: String): (String, Int) = {
    val u = java.net.URI.create(url)
    require(Set("tcp", "mqtt", "ssl", "mqtts").contains(u.getScheme),
      s"mqtt server url must be tcp://host:port or ssl://host:port, got $url")
    (u.getHost, u.getPort)
  }

  /** True if the url names the TLS scheme. */
  def isTlsUrl(url: String): Boolean = {
    val scheme = java.net.URI.create(url).getScheme
    scheme == "ssl" || scheme == "mqtts"
  }
}

/** Minimal in-process MQTT 3.1.1 broker: CONNECT handshake, QoS-0/1
  * publish routing with `+`/`#` wildcard subscriptions, ping. One
  * thread per connection (test scale); delivery to subscribers is
  * QoS 0 — the graft client's at-least-once edge is publisher→broker
  * PUBACK, same as the reference's default sink QoS.
  */
final class MqttBroker private (server: ServerSocket,
                                credentials: Option[(String, String)]) {
  import Mqtt._

  private final class Conn(val socket: Socket) {
    val out = new BufferedOutputStream(socket.getOutputStream)
    val filters = scala.collection.mutable.Set[String]()
    def send(ptype: Int, flags: Int, body: Array[Byte]): Unit =
      out.synchronized { writePacket(out, ptype, flags, body) }
  }

  private val conns = ConcurrentHashMap.newKeySet[Conn]()

  /** Timing-safe credential comparison (the broker may front real
    * traffic in a deployment; string == leaks length/prefix timing).
    */
  private def constEq(offered: Option[String], expected: String): Boolean =
    offered.exists(o => java.security.MessageDigest.isEqual(
      o.getBytes(StandardCharsets.UTF_8), expected.getBytes(StandardCharsets.UTF_8)))

  def port: Int = server.getLocalPort
  def address: String =
    if (server.isInstanceOf[javax.net.ssl.SSLServerSocket])
      s"ssl://${server.getInetAddress.getHostAddress}:$port"
    else s"tcp://${server.getInetAddress.getHostAddress}:$port"

  /** Messages delivered per topic (observation point for tests). */
  private val delivered = new java.util.concurrent.atomic.AtomicLong()
  def deliveredCount: Long = delivered.get()

  private val acceptor = new AcceptLoop(server, "mqtt-broker")({ s =>
    val conn = new Conn(s)
    conns.add(conn)
    () => serve(conn)
  })

  private def serve(conn: Conn): Unit = {
    val in = new BufferedInputStream(conn.socket.getInputStream)
    try {
      val hello = readPacket(in)
      require(hello != null && hello.ptype == CONNECT, "mqtt: expected CONNECT")
      val info = parseConnect(hello.body)
      credentials match {
        case Some(_) if info.username.isEmpty && info.password.isEmpty =>
          // no credentials offered at all → code 5 "not authorized"
          // (spec §3.2.2.3); the server MUST then close (spec §3.1.4-5)
          conn.send(CONNACK, 0, Array[Byte](0, 5))
          conn.socket.close()
          return
        case Some((u, p)) if !(constEq(info.username, u) && constEq(info.password, p)) =>
          // wrong credentials → code 4 "bad user name or password"
          conn.send(CONNACK, 0, Array[Byte](0, 4))
          conn.socket.close()
          return
        case _ => ()
      }
      conn.send(CONNACK, 0, Array[Byte](0, 0)) // session-present=0, accepted
      var p = readPacket(in)
      while (p != null) {
        p.ptype match {
          case PUBLISH =>
            val qos = (p.flags >> 1) & 0x03
            val r = new BodyReader(p.body)
            val topic = r.string()
            val pid = if (qos > 0) r.u16() else 0
            val payload = r.rest()
            route(topic, payload)
            if (qos == 1) conn.send(PUBACK, 0, packetIdBody(pid))
          case SUBSCRIBE =>
            val r = new BodyReader(p.body)
            val pid = r.u16()
            val granted = scala.collection.mutable.ArrayBuffer[Byte]()
            while (r.remaining > 0) {
              val f = r.string()
              val reqQos = r.u8()
              conn.filters.synchronized { conn.filters += f }
              granted += math.min(reqQos, 1).toByte
            }
            conn.send(SUBACK, 0, packetIdBody(pid) ++ granted)
          case UNSUBSCRIBE =>
            val r = new BodyReader(p.body)
            val pid = r.u16()
            while (r.remaining > 0) {
              val f = r.string()
              conn.filters.synchronized { conn.filters -= f }
            }
            conn.send(UNSUBACK, 0, packetIdBody(pid))
          case PINGREQ => conn.send(PINGRESP, 0, Array.emptyByteArray)
          case DISCONNECT => conn.socket.close()
          case _ => () // ignore
        }
        p = readPacket(in)
      }
    } catch {
      case _: Exception => () // connection torn down
    } finally {
      conns.remove(conn)
      try conn.socket.close() catch { case _: Exception => () }
    }
  }

  private def route(topic: String, payload: Array[Byte]): Unit = {
    conns.forEach { c =>
      val matches = c.filters.synchronized { c.filters.exists(topicMatches(_, topic)) }
      if (matches) {
        try { c.send(PUBLISH, 0, publishBody(topic, 0, payload, qos = 0)); delivered.incrementAndGet() }
        catch { case _: Exception => () } // dead subscriber, reaped by its own thread
      }
    }
  }

  def close(): Unit = {
    acceptor.close()
    conns.forEach(c => try c.socket.close() catch { case _: Exception => () })
  }
}

object MqttBroker {
  /** Bind a broker on the loopback interface (port 0 = ephemeral).
    * With `credentials`, CONNECTs that carry no username/password are
    * refused with return code 5 (not authorized) and wrong ones with
    * code 4 (bad user name or password). With `tls` the listener is an
    * SSLServerSocket presenting the configured cert.
    */
  def start(port: Int = 0, credentials: Option[(String, String)] = None,
            tls: Option[Tls.ServerConfig] = None): MqttBroker = {
    val server = tls match {
      case Some(cfg) => Tls.serverSocket(port, cfg)
      case None => new ServerSocket(port, 50, InetAddress.getLoopbackAddress)
    }
    new MqttBroker(server, credentials)
  }
}

/** Blocking MQTT 3.1.1 client. `publish` at QoS 1 waits for the
  * broker's PUBACK (at-least-once to the broker); subscriptions
  * dispatch on a reader thread.
  */
final class MqttClient private (socket: Socket, clientId: String,
                                username: Option[String], password: Option[String]) {
  import Mqtt._

  private val out = new BufferedOutputStream(socket.getOutputStream)
  private val in = new BufferedInputStream(socket.getInputStream)
  private val nextId = new java.util.concurrent.atomic.AtomicInteger(1)
  // per-pid waiter with its own outcome flag: the latch also releases on
  // reader death, and a global "dead" flag would mis-report an op whose
  // real ack arrived just before the connection dropped
  private final class AckWaiter {
    val latch = new CountDownLatch(1)
    @volatile var acked = false
    def complete(): Unit = { acked = true; latch.countDown() }
  }
  private val acks = new ConcurrentHashMap[Int, AckWaiter]()
  // filter → handler: each subscription keeps its own callback and the
  // reader dispatches by topicMatches, so a second subscribe() never
  // reroutes the first filter's deliveries
  private val subs = new ConcurrentHashMap[String, (String, Array[Byte]) => Unit]()
  @volatile private var connected = false
  @volatile private var readerDead = false

  private def send(ptype: Int, flags: Int, body: Array[Byte]): Unit =
    out.synchronized { writePacket(out, ptype, flags, body) }

  // CONNECT handshake happens before the reader thread starts, so the
  // CONNACK is read inline here. Credentials ride the CONNECT payload
  // (spec §3.1), matching the reference's username/password connection
  // props (internal/io/mqtt/v4client/client.go:44,63-67).
  send(CONNECT, 0, connectPacket(clientId, username = username, password = password))
  locally {
    val ack = readPacket(in)
    require(ack != null && ack.ptype == CONNACK, "mqtt: expected CONNACK")
    require(ack.body(1) == 0, s"mqtt: connection refused, code ${ack.body(1)}")
    connected = true
  }

  private val reader = new Thread(() => {
    try {
      var p = readPacket(in)
      while (p != null) {
        p.ptype match {
          case PUBLISH =>
            val qos = (p.flags >> 1) & 0x03
            val r = new BodyReader(p.body)
            val topic = r.string()
            val pid = if (qos > 0) r.u16() else 0
            val payload = r.rest()
            if (qos == 1) send(PUBACK, 0, packetIdBody(pid))
            subs.forEach { (filter, handler) =>
              if (topicMatches(filter, topic)) handler(topic, payload)
            }
          case PUBACK | SUBACK | UNSUBACK =>
            // complete but never remove: only the waiter's finally removes
            // its own entry, so awaitAck can treat a missing entry as a
            // lost connection rather than a completed ack
            val r = new BodyReader(p.body)
            Option(acks.get(r.u16())).foreach(_.complete())
          case PINGRESP => ()
          case _ => ()
        }
        p = readPacket(in)
      }
    } catch { case _: Exception => () }
    finally { // fail every pending waiter so a dead connection can't hang callers 10 s
      readerDead = true // set BEFORE release so released waiters observe the failure
      acks.forEach((_, w) => w.latch.countDown()) // entries stay: waiters remove their own
    }
  }, s"mqtt-client-$clientId")
  reader.setDaemon(true)
  reader.start()

  private def awaitAck(pid: Int, what: String): Unit = {
    val w = acks.get(pid)
    try {
      // entries are only ever removed by their own waiter's finally, so a
      // missing entry here can't mean "already acked" — it means the map
      // was never populated for this pid (a caller bug) or the entry was
      // lost; either way the delivery is unconfirmed
      if (w == null)
        throw new java.io.IOException(s"mqtt: connection lost before $what #$pid was acknowledged")
      // if the reader died before our put, its drain missed this entry
      // and nothing will ever count the latch down — fail fast instead
      // of blocking the full timeout
      if (readerDead && !w.acked)
        throw new java.io.IOException(s"mqtt: connection lost before $what #$pid was acknowledged")
      if (!w.latch.await(10, TimeUnit.SECONDS))
        throw new java.io.IOException(s"mqtt: $what #$pid not acknowledged in 10s")
      // the latch releases on real acks AND on reader death; only the
      // per-pid flag distinguishes them — an ack that landed just before
      // the drop still counts as success
      if (!w.acked)
        throw new java.io.IOException(s"mqtt: connection lost before $what #$pid was acknowledged")
    } finally acks.remove(pid) // no entry may outlive its waiter
  }

  /** Register the filter's callback, then subscribe (blocks on SUBACK).
    * Repeat calls add independent subscriptions; frames are dispatched
    * to every filter that matches.
    */
  def subscribe(filter: String, handler: (String, Array[Byte]) => Unit): Unit = {
    subs.put(filter, handler)
    val pid = nextId.getAndIncrement()
    acks.put(pid, new AckWaiter)
    send(SUBSCRIBE, 0x02, subscribeBody(pid, Seq(filter -> 1)))
    awaitAck(pid, "subscribe")
  }

  /** Drop the filter's callback and tell the broker (blocks on UNSUBACK). */
  def unsubscribe(filter: String): Unit = {
    subs.remove(filter)
    val pid = nextId.getAndIncrement()
    acks.put(pid, new AckWaiter)
    val b = new java.io.ByteArrayOutputStream()
    b.write(pid >> 8); b.write(pid & 0xff)
    putString(b, filter)
    send(UNSUBSCRIBE, 0x02, b.toByteArray)
    awaitAck(pid, "unsubscribe")
  }

  /** QoS-1 publish: blocks until the broker PUBACKs. */
  def publish(topic: String, payload: Array[Byte]): Unit = {
    val pid = nextId.getAndIncrement()
    acks.put(pid, new AckWaiter)
    send(PUBLISH, 0x02 /* qos1 */, publishBody(topic, pid, payload, qos = 1))
    awaitAck(pid, "publish")
  }

  def publish(topic: String, payload: String): Unit =
    publish(topic, payload.getBytes(StandardCharsets.UTF_8))

  def ping(): Unit = send(PINGREQ, 0, Array.emptyByteArray)

  def close(): Unit = {
    try if (connected) send(DISCONNECT, 0, Array.emptyByteArray)
    catch { case _: Exception => () }
    try socket.close() catch { case _: Exception => () }
  }
}

object MqttClient {
  /** Connect and complete the CONNECT/CONNACK handshake. An `ssl://`
    * url (or an explicit `tls` config) wraps the connection in TLS. A
    * refused handshake throws AND closes the socket — the credential-
    * rejection path must not leak the connection.
    */
  def connect(serverUrl: String, clientId: String,
              username: Option[String] = None, password: Option[String] = None,
              tls: Option[Tls.ClientConfig] = None): MqttClient = {
    val (host, port) = Mqtt.parseServer(serverUrl)
    val effectiveTls = if (tls.isEmpty && Mqtt.isTlsUrl(serverUrl)) Some(Tls.ClientConfig()) else tls
    val s = Tls.socket(host, port, effectiveTls)
    try new MqttClient(s, clientId, username, password)
    catch {
      case e: Throwable =>
        try s.close() catch { case _: Exception => () }
        throw e
    }
  }
}
