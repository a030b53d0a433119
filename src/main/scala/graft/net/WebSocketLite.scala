package graft.net

import java.io.{BufferedInputStream, BufferedOutputStream, EOFException, InputStream, OutputStream}
import java.net.{InetAddress, ServerSocket, Socket}
import java.nio.charset.StandardCharsets
import java.security.MessageDigest
import java.util.Base64

/** WebSocket (RFC 6455) over JDK sockets, dependency-free: HTTP/1.1
  * upgrade handshake (Sec-WebSocket-Accept = base64(SHA1(key + GUID))),
  * frame codec with client-side masking, text/binary/ping/pong/close
  * opcodes.
  *
  * The reference's websocket source/sink (internal/io/websocket/) use
  * gorilla/websocket; graft implements the wire format itself so the
  * transport is real and testable in-container against
  * [[WebSocketHub]]. Fragmented messages (FIN=0 continuations) are out
  * of scope — eKuiper frames are single-frame JSON payloads.
  */
object WebSocketLite {
  val Guid = "258EAFA5-E914-47DA-95CA-C5AB0DC85B11"

  final val OpText = 0x1
  final val OpBinary = 0x2
  final val OpClose = 0x8
  final val OpPing = 0x9
  final val OpPong = 0xa

  final case class Frame(op: Int, payload: Array[Byte])

  // shared client-side frame mask source; SecureRandom is thread-safe
  private[net] val maskRandom = new java.security.SecureRandom()

  def acceptKey(key: String): String =
    Base64.getEncoder.encodeToString(
      MessageDigest.getInstance("SHA-1")
        .digest((key + Guid).getBytes(StandardCharsets.US_ASCII)))

  /** Write one frame. Client→server frames MUST be masked (RFC §5.3). */
  def writeFrame(out: OutputStream, op: Int, payload: Array[Byte], mask: Boolean): Unit = {
    out.write(0x80 | op) // FIN + opcode
    val maskBit = if (mask) 0x80 else 0
    val n = payload.length
    if (n < 126) out.write(maskBit | n)
    else if (n <= 0xffff) {
      out.write(maskBit | 126); out.write(n >> 8); out.write(n & 0xff)
    } else {
      out.write(maskBit | 127)
      var i = 7
      while (i >= 0) { out.write(((n.toLong >> (8 * i)) & 0xff).toInt); i -= 1 }
    }
    if (mask) {
      // RFC 6455 §10.3: mask keys must not be predictable by the server
      // (proxy cache poisoning), so draw from a shared SecureRandom; one
      // static instance avoids the per-frame seeding cost
      val key = new Array[Byte](4)
      WebSocketLite.maskRandom.nextBytes(key)
      out.write(key)
      val masked = new Array[Byte](n)
      var i = 0
      while (i < n) { masked(i) = (payload(i) ^ key(i % 4)).toByte; i += 1 }
      out.write(masked)
    } else out.write(payload)
    out.flush()
  }

  /** Read one frame, unmasking if needed; null on clean EOF. */
  def readFrame(in: InputStream): Frame = {
    val b0 = in.read()
    if (b0 < 0) return null
    val op = b0 & 0x0f
    val b1 = in.read()
    if (b1 < 0) throw new EOFException("ws: eof in frame header")
    val masked = (b1 & 0x80) != 0
    var len: Long = b1 & 0x7f
    if (len == 126) len = (readByte(in) << 8) | readByte(in)
    else if (len == 127) {
      len = 0
      var i = 0
      while (i < 8) { len = (len << 8) | readByte(in); i += 1 }
    }
    require(len <= Int.MaxValue, "ws: frame too large")
    val key = if (masked) { val k = new Array[Byte](4); readFully(in, k); k } else null
    val payload = new Array[Byte](len.toInt)
    readFully(in, payload)
    if (masked) {
      var i = 0
      while (i < payload.length) { payload(i) = (payload(i) ^ key(i % 4)).toByte; i += 1 }
    }
    Frame(op, payload)
  }

  private def readByte(in: InputStream): Long = {
    val b = in.read()
    if (b < 0) throw new EOFException("ws: eof in frame length")
    b.toLong
  }

  private def readFully(in: InputStream, buf: Array[Byte]): Unit = {
    var off = 0
    while (off < buf.length) {
      val n = in.read(buf, off, buf.length - off)
      if (n < 0) throw new EOFException("ws: eof in frame payload")
      off += n
    }
  }

  /** Read HTTP headers until the blank line; returns (firstLine, headers lower-cased). */
  private[net] def readHttpHead(in: InputStream): (String, Map[String, String]) = {
    val sb = new StringBuilder
    var prev = 0
    var cur = in.read()
    while (cur >= 0 && !(sb.nonEmpty && sb.endsWith("\r\n\r\n"))) {
      sb.append(cur.toChar); prev = cur; cur = if (sb.endsWith("\r\n\r\n")) -2 else in.read()
    }
    val lines = sb.toString.split("\r\n").filter(_.nonEmpty)
    require(lines.nonEmpty, "ws: empty http head")
    val headers = lines.drop(1).flatMap { l =>
      val i = l.indexOf(':')
      if (i > 0) Some(l.substring(0, i).trim.toLowerCase -> l.substring(i + 1).trim) else None
    }.toMap
    (lines.head, headers)
  }
}

/** In-process WebSocket hub server: performs the RFC 6455 handshake
  * and re-broadcasts every received text frame to ALL OTHER connected
  * clients (the usual test-double for a websocket push service —
  * publishers and subscribers share one endpoint). Received frames are
  * also recorded for test assertions.
  */
final class WebSocketHub private (server: ServerSocket) {
  import WebSocketLite._

  private final class Conn(val socket: Socket) {
    val out = new BufferedOutputStream(socket.getOutputStream)
    def send(op: Int, payload: Array[Byte]): Unit =
      out.synchronized { writeFrame(out, op, payload, mask = false) }
  }

  private val conns = java.util.concurrent.ConcurrentHashMap.newKeySet[Conn]()
  private val received0 = new java.util.concurrent.ConcurrentLinkedQueue[String]()

  def port: Int = server.getLocalPort
  def url: String =
    if (server.isInstanceOf[javax.net.ssl.SSLServerSocket])
      s"wss://${server.getInetAddress.getHostAddress}:$port/stream"
    else s"ws://${server.getInetAddress.getHostAddress}:$port/stream"
  def received: Seq[String] = { import scala.jdk.CollectionConverters._; received0.asScala.toSeq }

  private val acceptor = new AcceptLoop(server, "ws-hub")(s => () => serve(s))

  private def serve(socket: Socket): Unit = {
    val in = new BufferedInputStream(socket.getInputStream)
    val conn = new Conn(socket)
    try {
      val (reqLine, headers) = readHttpHead(in)
      require(reqLine.startsWith("GET "), s"ws: not a GET upgrade: $reqLine")
      val key = headers.getOrElse("sec-websocket-key",
        throw new IllegalArgumentException("ws: missing Sec-WebSocket-Key"))
      val resp = "HTTP/1.1 101 Switching Protocols\r\n" +
        "Upgrade: websocket\r\nConnection: Upgrade\r\n" +
        s"Sec-WebSocket-Accept: ${acceptKey(key)}\r\n\r\n"
      conn.out.synchronized {
        conn.out.write(resp.getBytes(StandardCharsets.US_ASCII)); conn.out.flush()
      }
      conns.add(conn)
      var f = readFrame(in)
      while (f != null && f.op != OpClose) {
        f.op match {
          case OpText =>
            val msg = new String(f.payload, StandardCharsets.UTF_8)
            received0.add(msg)
            conns.forEach { c =>
              if (c ne conn) {
                try c.send(OpText, f.payload)
                catch { case _: Exception => () }
              }
            }
          case OpBinary => // relay binary frames with the opcode intact
            conns.forEach { c =>
              if (c ne conn) {
                try c.send(OpBinary, f.payload)
                catch { case _: Exception => () }
              }
            }
          case OpPing => conn.send(OpPong, f.payload)
          case _ => ()
        }
        f = readFrame(in)
      }
    } catch { case _: Exception => () }
    finally {
      conns.remove(conn)
      try socket.close() catch { case _: Exception => () }
    }
  }

  def close(): Unit = {
    acceptor.close()
    conns.forEach(c => try c.socket.close() catch { case _: Exception => () })
  }
}

object WebSocketHub {
  /** With `tls` the listener is an SSLServerSocket presenting the
    * configured cert; `url` then reports the wss:// scheme.
    */
  def start(port: Int = 0, tls: Option[Tls.ServerConfig] = None): WebSocketHub = {
    val server = tls match {
      case Some(cfg) => Tls.serverSocket(port, cfg)
      case None => new ServerSocket(port, 50, InetAddress.getLoopbackAddress)
    }
    new WebSocketHub(server)
  }
}

/** Blocking WebSocket client: upgrade handshake, masked sends, reader
  * thread dispatching text frames.
  */
final class WebSocketClient private (socket: Socket, path: String, hostHeader: String) {
  import WebSocketLite._

  private val out = new BufferedOutputStream(socket.getOutputStream)
  private val in = new BufferedInputStream(socket.getInputStream)
  @volatile private var handler: String => Unit = _ => ()
  @volatile private var binaryHandler: Array[Byte] => Unit = _ => ()

  locally {
    val keyBytes = new Array[Byte](16)
    WebSocketLite.maskRandom.nextBytes(keyBytes)
    val key = Base64.getEncoder.encodeToString(keyBytes)
    val req = s"GET $path HTTP/1.1\r\nHost: $hostHeader\r\n" +
      "Upgrade: websocket\r\nConnection: Upgrade\r\n" +
      s"Sec-WebSocket-Key: $key\r\nSec-WebSocket-Version: 13\r\n\r\n"
    out.write(req.getBytes(StandardCharsets.US_ASCII)); out.flush()
    val (status, headers) = readHttpHead(in)
    require(status.contains("101"), s"ws: upgrade refused: $status")
    require(headers.get("sec-websocket-accept").contains(acceptKey(key)),
      "ws: bad Sec-WebSocket-Accept")
  }

  private val reader = new Thread(() => {
    try {
      var f = readFrame(in)
      while (f != null && f.op != OpClose) {
        f.op match {
          case OpText => handler(new String(f.payload, StandardCharsets.UTF_8))
          case OpBinary => binaryHandler(f.payload)
          case OpPing => out.synchronized { writeFrame(out, OpPong, f.payload, mask = true) }
          case _ => ()
        }
        f = readFrame(in)
      }
    } catch { case _: Exception => () }
  }, "ws-client-reader")
  reader.setDaemon(true)
  reader.start()

  def onText(h: String => Unit): Unit = handler = h

  /** Binary frames (opcode 0x2) — a sink publishing compressed or
    * encrypted payloads sends these; dropping them loses messages.
    */
  def onBinary(h: Array[Byte] => Unit): Unit = binaryHandler = h

  def sendText(msg: String): Unit = out.synchronized {
    writeFrame(out, OpText, msg.getBytes(StandardCharsets.UTF_8), mask = true)
  }

  /** Binary frame (opcode 0x2) — compressed/encrypted sink payloads
    * must not round-trip through a UTF-8 re-encode.
    */
  def sendBinary(payload: Array[Byte]): Unit = out.synchronized {
    writeFrame(out, OpBinary, payload, mask = true)
  }

  def close(): Unit = {
    try out.synchronized { writeFrame(out, OpClose, Array.emptyByteArray, mask = true) }
    catch { case _: Exception => () }
    try socket.close() catch { case _: Exception => () }
  }
}

object WebSocketClient {
  /** Connect to ws://host:port/path (or wss:// for TLS; an explicit
    * `tls` config also upgrades a ws:// url). A refused upgrade throws
    * and closes the socket.
    */
  def connect(url: String, tls: Option[Tls.ClientConfig] = None): WebSocketClient = {
    val u = java.net.URI.create(url)
    require(u.getScheme == "ws" || u.getScheme == "wss",
      s"websocket url must be ws://... or wss://..., got $url")
    val path = if (u.getPath == null || u.getPath.isEmpty) "/" else u.getPath
    val effectiveTls =
      if (tls.isEmpty && u.getScheme == "wss") Some(Tls.ClientConfig()) else tls
    val s = Tls.socket(u.getHost, u.getPort, effectiveTls)
    try new WebSocketClient(s, path, s"${u.getHost}:${u.getPort}")
    catch {
      case e: Throwable =>
        try s.close() catch { case _: Exception => () }
        throw e
    }
  }
}
