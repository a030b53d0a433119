package graft.net

import java.io.{DataInputStream, DataOutputStream}
import java.net.{InetSocketAddress, ServerSocket, Socket}
import java.util.concurrent.{ConcurrentHashMap, CopyOnWriteArrayList}

/** Nanomsg scalability-protocols PAIR socket over the public SP TCP
  * mapping (nanomsg.org RFC sp-tcp-mapping-01): connection handshake
  * is 8 octets — `0x00 'S' 'P' 0x00`, 16-bit big-endian protocol
  * number, 2 reserved octets — then each message is an 8-octet
  * big-endian length prefix + body. PAIR (protocol 16) adds no
  * per-message header.
  *
  * This is the wire the reference's neuron connector speaks through
  * go.nanomsg.org/mangos (internal/io/neuron/source.go PROTOCOL=
  * "pair", pkg/nng) — graft implements the mapping directly, so the
  * neuron source/sink ride a REAL transport like mqtt/redis/kafka/zmq.
  */
object Nng {
  val PairProtocol = 16

  private[net] def handshake(in: DataInputStream, out: DataOutputStream,
                             protocol: Int): Unit = {
    val hdr = Array[Byte](0, 'S'.toByte, 'P'.toByte, 0,
      ((protocol >> 8) & 0xff).toByte, (protocol & 0xff).toByte, 0, 0)
    out.write(hdr); out.flush()
    val peer = new Array[Byte](8)
    in.readFully(peer)
    require(peer(0) == 0 && peer(1) == 'S' && peer(2) == 'P' && peer(3) == 0,
      "bad SP header")
    val peerProto = ((peer(4) & 0xff) << 8) | (peer(5) & 0xff)
    require(peerProto == protocol, s"SP protocol mismatch: $peerProto != $protocol")
  }

  private[net] def writeMsg(out: DataOutputStream, body: Array[Byte]): Unit = {
    out.writeLong(body.length.toLong)
    out.write(body)
    out.flush()
  }

  private[net] def readMsg(in: DataInputStream): Option[Array[Byte]] =
    try {
      val len = in.readLong()
      require(len >= 0 && len <= Int.MaxValue, s"SP message too large: $len")
      val body = new Array[Byte](len.toInt)
      in.readFully(body)
      Some(body)
    } catch {
      case _: java.io.EOFException | _: java.net.SocketException => None
    }
}

/** One connected PAIR endpoint: full-duplex send/receive. */
final class NngPair private[net] (socket: Socket, in: DataInputStream,
                                  out: DataOutputStream) extends AutoCloseable {
  private val handlers = new CopyOnWriteArrayList[Array[Byte] => Unit]()
  @volatile private var running = true

  def onMessage(h: Array[Byte] => Unit): Unit = handlers.add(h)

  private[net] def startReader(name: String): Unit = {
    val t = new Thread(() => {
      try {
        while (running) Nng.readMsg(in) match {
          case Some(body) => handlers.forEach { h =>
            // a faulty handler must not kill the transport reader
            try h(body) catch { case _: Throwable => () }
          }
          case None => running = false
        }
      } catch {
        // malformed frame (readMsg require) or any other fault: the
        // connection is unusable — mark dead so isOpen flips false and
        // the source supervision loop redials
        case _: Throwable => ()
      } finally {
        running = false
        try socket.close() catch { case _: Exception => () }
      }
    }, name)
    t.setDaemon(true)
    t.start()
  }

  def send(body: Array[Byte]): Unit =
    synchronized { Nng.writeMsg(out, body) }

  def isOpen: Boolean = running && !socket.isClosed

  def close(): Unit = {
    running = false
    try socket.close() catch { case _: Exception => () }
  }
}

object NngPair {
  /** Dial tcp://host:port (the reference's eKuiper side: it DIALS the
    * neuron daemon's listening pair socket). A `handler` given here is
    * registered before the reader starts, so a message the peer sends
    * as soon as it sees the connection is not read with no handler and
    * lost; `onMessage` after `dial` cannot promise that.
    */
  def dial(url: String, handler: (NngPair, Array[Byte]) => Unit = null): NngPair = {
    val uri = java.net.URI.create(url.stripPrefix("nng+"))
    val socket = new Socket()
    socket.setTcpNoDelay(true)
    socket.connect(new InetSocketAddress(uri.getHost, uri.getPort), 5000)
    val in = new DataInputStream(new java.io.BufferedInputStream(socket.getInputStream))
    val out = new DataOutputStream(new java.io.BufferedOutputStream(socket.getOutputStream))
    try {
      Nng.handshake(in, out, Nng.PairProtocol)
      val p = new NngPair(socket, in, out)
      if (handler != null) p.onMessage(handler(p, _))
      p.startReader(s"nng-pair-dial-${uri.getPort}")
      p
    } catch {
      case e: Exception =>
        try socket.close() catch { case _: Exception => () }
        throw e
    }
  }
}

/** Listening PAIR socket (the neuron-daemon side; graft uses it as the
  * in-process test double and as a bind-mode endpoint). PAIR accepts
  * ONE peer at a time — a newer connection replaces a dead one.
  */
final class NngListener private (server: ServerSocket) extends AutoCloseable {
  private val handlers = new CopyOnWriteArrayList[Array[Byte] => Unit]()
  @volatile private var peer: NngPair = _

  def port: Int = server.getLocalPort
  def address: String = s"tcp://127.0.0.1:$port"

  def onMessage(h: Array[Byte] => Unit): Unit = handlers.add(h)

  /** Send to the connected peer (throws when none yet). */
  def send(body: Array[Byte]): Unit = {
    val p = peer
    require(p != null && p.isOpen, "no connected PAIR peer")
    p.send(body)
  }

  def hasPeer: Boolean = { val p = peer; p != null && p.isOpen }

  // the handshake runs on the connection's thread under a read
  // timeout, so a peer that connects and never greets can't block accept()
  private val acceptor = new AcceptLoop(server, "nng-listen")(s => () => {
    try {
      s.setSoTimeout(5000)
      val in = new DataInputStream(new java.io.BufferedInputStream(s.getInputStream))
      val out = new DataOutputStream(new java.io.BufferedOutputStream(s.getOutputStream))
      Nng.handshake(in, out, Nng.PairProtocol)
      s.setSoTimeout(0) // reads block indefinitely once greeted
      val p = new NngPair(s, in, out)
      p.onMessage(body => handlers.forEach(h => h(body)))
      p.startReader(s"nng-pair-accept-$port")
      // the swap must be atomic across concurrent handshake
      // threads, or two racing peers can both stay live
      NngListener.this.synchronized {
        val old = peer
        peer = p
        if (old != null) old.close() // pair semantics: one active peer
      }
    } catch {
      case _: Throwable => try s.close() catch { case _: Exception => () }
    }
  })

  def close(): Unit = {
    acceptor.close()
    val p = peer
    if (p != null) p.close()
  }
}

object NngListener {
  def bind(port: Int = 0): NngListener = {
    val server = new ServerSocket()
    server.setReuseAddress(true)
    server.bind(new InetSocketAddress("127.0.0.1", port))
    new NngListener(server)
  }
}

/** Shared dialed PAIR sockets per url — neuron sink partitions in one
  * JVM share the single connection the pair protocol allows.
  */
object NngEndpoints {
  private val pairs = new ConcurrentHashMap[String, NngPair]()

  def pair(url: String): NngPair =
    pairs.compute(url, (_, existing) =>
      if (existing != null && existing.isOpen) existing else NngPair.dial(url))

  def closeAll(): Unit = {
    pairs.forEach((_, p) => p.close())
    pairs.clear()
  }
}
