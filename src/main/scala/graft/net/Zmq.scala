package graft.net

import java.io.{DataInputStream, DataOutputStream}
import java.net.{InetSocketAddress, ServerSocket, Socket}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.{ConcurrentHashMap, CopyOnWriteArrayList}

/** ZeroMQ wire protocol (ZMTP 3.0, public spec rfc.zeromq.org/spec/23
  * + the NULL security mechanism), PUB/SUB pattern only — what the
  * reference's zmq connector uses (extensions/impl/zmq: SUB source
  * connecting to a publisher, PUB sink binding an endpoint; pebbe/zmq4
  * handles the wire there, graft speaks it directly).
  *
  * Framing: greeting (64 octets: signature FF..7F, version 3.0,
  * mechanism "NULL", as-server, filler), then READY command frames
  * carrying Socket-Type metadata, then messages as frame sequences
  * (flags octet: 0x1 MORE, 0x2 LONG, 0x4 COMMAND; short size 1 octet,
  * long size 8 octets BE). SUB→PUB subscription messages are
  * 0x01-prefixed topic prefixes (0x00 unsubscribes); the PUB side
  * prefix-filters on a message's first frame.
  */
object Zmtp {
  /** Write the 64-octet greeting. */
  def writeGreeting(out: DataOutputStream, asServer: Boolean): Unit = {
    val g = new Array[Byte](64)
    g(0) = 0xff.toByte
    g(9) = 0x7f.toByte
    g(10) = 3 // major
    g(11) = 0 // minor
    val mech = "NULL".getBytes(UTF_8)
    System.arraycopy(mech, 0, g, 12, mech.length)
    g(32) = if (asServer) 1 else 0
    out.write(g); out.flush()
  }

  /** Read + validate the peer greeting; returns (major, mechanism). */
  def readGreeting(in: DataInputStream): (Int, String) = {
    val g = new Array[Byte](64)
    in.readFully(g)
    require((g(0) & 0xff) == 0xff && (g(9) & 0xff) == 0x7f, "bad ZMTP signature")
    val mech = new String(g, 12, 20, UTF_8).takeWhile(_ != 0)
    (g(10).toInt, mech)
  }

  /** One ZMTP frame. */
  final case class Frame(flags: Int, body: Array[Byte]) {
    def more: Boolean = (flags & 0x1) != 0
    def command: Boolean = (flags & 0x4) != 0
  }

  def writeFrame(out: DataOutputStream, body: Array[Byte],
                 more: Boolean = false, command: Boolean = false): Unit = {
    var flags = 0
    if (more) flags |= 0x1
    if (command) flags |= 0x4
    if (body.length > 255) {
      out.writeByte(flags | 0x2)
      out.writeLong(body.length.toLong)
    } else {
      out.writeByte(flags)
      out.writeByte(body.length)
    }
    out.write(body)
  }

  def readFrame(in: DataInputStream): Frame = {
    val flags = in.readUnsignedByte()
    val len =
      if ((flags & 0x2) != 0) {
        val l = in.readLong()
        require(l >= 0 && l <= Int.MaxValue, s"frame too large: $l")
        l.toInt
      } else in.readUnsignedByte()
    val body = new Array[Byte](len)
    in.readFully(body)
    Frame(flags, body)
  }

  /** READY command body with a Socket-Type metadata property. */
  def readyBody(socketType: String): Array[Byte] = {
    val name = "READY".getBytes(UTF_8)
    val prop = "Socket-Type".getBytes(UTF_8)
    val value = socketType.getBytes(UTF_8)
    val buf = java.nio.ByteBuffer.allocate(1 + name.length + 1 + prop.length + 4 + value.length)
    buf.put(name.length.toByte).put(name)
    buf.put(prop.length.toByte).put(prop)
    buf.putInt(value.length).put(value)
    buf.array()
  }

  /** Parse a READY body → metadata map (property names lowercased). */
  def parseReady(body: Array[Byte]): Map[String, String] = {
    val buf = java.nio.ByteBuffer.wrap(body)
    val nameLen = buf.get() & 0xff
    val name = new Array[Byte](nameLen); buf.get(name)
    require(new String(name, UTF_8) == "READY", "expected READY command")
    val meta = scala.collection.mutable.Map[String, String]()
    while (buf.remaining() > 0) {
      val pl = buf.get() & 0xff
      val p = new Array[Byte](pl); buf.get(p)
      val vl = buf.getInt()
      val v = new Array[Byte](vl); buf.get(v)
      meta(new String(p, UTF_8).toLowerCase) = new String(v, UTF_8)
    }
    meta.toMap
  }

  /** Full handshake over a fresh socket; validates the peer's
    * Socket-Type against `accept` (PUB pairs with SUB and vice versa).
    */
  def handshake(in: DataInputStream, out: DataOutputStream, asServer: Boolean,
                socketType: String, accept: Set[String]): Unit = {
    writeGreeting(out, asServer)
    val (major, mech) = readGreeting(in)
    require(major >= 3, s"unsupported ZMTP major $major")
    require(mech == "NULL", s"unsupported mechanism $mech")
    writeFrame(out, readyBody(socketType), command = true)
    out.flush()
    val ready = readFrame(in)
    require(ready.command, "expected READY command frame")
    val peerType = parseReady(ready.body).getOrElse("socket-type", "")
    require(accept.contains(peerType), s"incompatible peer socket type $peerType")
  }

  /** Read one complete (possibly multipart) message, skipping command
    * frames; None at EOF.
    */
  def readMessage(in: DataInputStream): Option[Vector[Array[Byte]]] = {
    try {
      var parts = Vector.empty[Array[Byte]]
      var more = true
      while (more) {
        val f = readFrame(in)
        if (!f.command) { // PING/PONG etc. don't interleave data parts
          parts :+= f.body
          more = f.more
        }
      }
      Some(parts)
    } catch {
      case _: java.io.EOFException | _: java.net.SocketException => None
    }
  }
}

/** PUB socket, bound — the reference zmq SINK shape. Accepts SUB
  * peers, tracks each one's subscription prefixes, and fans a
  * published message out to every peer with a matching prefix
  * (server-side filtering, like libzmq's PUB).
  */
final class ZmqPub private (server: ServerSocket) extends AutoCloseable {
  private final class Peer(val socket: Socket, val out: DataOutputStream) {
    val prefixes = new CopyOnWriteArrayList[Array[Byte]]()
    def matches(first: Array[Byte]): Boolean = {
      val it = prefixes.iterator()
      var hit = false
      while (!hit && it.hasNext) {
        val p = it.next()
        hit = p.length <= first.length && first.startsWith(p)
      }
      hit
    }
  }

  private val peers = new CopyOnWriteArrayList[Peer]()

  def port: Int = server.getLocalPort
  def address: String = s"tcp://127.0.0.1:$port"

  // the ZMTP handshake runs on the peer's thread under a read timeout:
  // one peer that connects and never greets must not block accept() for
  // every later subscriber
  private val acceptor = new AcceptLoop(server, "zmq-pub")(s => () => {
    var peer: Peer = null
    try {
      s.setSoTimeout(5000)
      val in = new DataInputStream(new java.io.BufferedInputStream(s.getInputStream))
      val out = new DataOutputStream(new java.io.BufferedOutputStream(s.getOutputStream))
      Zmtp.handshake(in, out, asServer = true, socketType = "PUB", accept = Set("SUB", "XSUB"))
      s.setSoTimeout(0) // an idle subscriber is fine after the greeting
      peer = new Peer(s, out)
      peers.add(peer)
      // consume subscribe/unsubscribe messages
      var open = true
      while (open) Zmtp.readMessage(in) match {
        case Some(parts) if parts.nonEmpty && parts.head.nonEmpty =>
          val m = parts.head
          if (m(0) == 1) peer.prefixes.add(m.drop(1))
          else if (m(0) == 0) {
            val p = m.drop(1)
            val it = peer.prefixes.iterator()
            var found: Array[Byte] = null
            while (found == null && it.hasNext) {
              val x = it.next(); if (x.sameElements(p)) found = x
            }
            if (found != null) peer.prefixes.remove(found)
          }
        case Some(_) => ()
        case None => open = false
      }
    } catch {
      // malformed frame / handshake timeout / anything: drop peer
      case _: Throwable => ()
    } finally {
      if (peer != null) peers.remove(peer)
      try s.close() catch { case _: Exception => () }
    }
  })

  /** Publish [topic, payload] (or a single frame when topic is empty)
    * to every subscribed peer — the reference sink's sendToZmq shape.
    */
  def publish(topic: String, payload: Array[Byte]): Unit = {
    val t = topic.getBytes(UTF_8)
    val first = if (t.nonEmpty) t else payload
    val it = peers.iterator()
    while (it.hasNext) {
      val peer = it.next()
      if (peer.matches(first))
        try peer.synchronized {
          if (t.nonEmpty) {
            Zmtp.writeFrame(peer.out, t, more = true)
            Zmtp.writeFrame(peer.out, payload)
          } else Zmtp.writeFrame(peer.out, payload)
          peer.out.flush()
        } catch { case _: Exception => peers.remove(peer) }
    }
  }

  /** Number of connected subscriber peers (tests). */
  def peerCount: Int = peers.size()

  def close(): Unit = {
    acceptor.close()
    peers.forEach(p => try p.socket.close() catch { case _: Exception => () })
    peers.clear()
  }
}

object ZmqPub {
  /** Bind tcp://host:port (port 0 = ephemeral). */
  def bind(port: Int = 0): ZmqPub = {
    val server = new ServerSocket()
    server.setReuseAddress(true)
    server.bind(new InetSocketAddress("127.0.0.1", port))
    new ZmqPub(server)
  }
}

/** SUB socket, connected — the reference zmq SOURCE shape. Sends
  * subscription prefixes upstream; hands each received message to the
  * handler as (firstFrame, payload) with the reference's multipart
  * convention (topic = first frame when subscribing non-empty,
  * payload = remaining frames concatenated).
  */
final class ZmqSub private (socket: Socket, in: DataInputStream, out: DataOutputStream,
                            topic: String) extends AutoCloseable {
  private val handlers = new CopyOnWriteArrayList[(String, Array[Byte]) => Unit]()
  @volatile private var running = true

  def onMessage(h: (String, Array[Byte]) => Unit): Unit = handlers.add(h)

  /** False once the peer closed / the reader died — reconnect signal. */
  def isOpen: Boolean = running && !socket.isClosed

  private val reader = new Thread(() => {
    try {
      while (running) Zmtp.readMessage(in) match {
        case Some(parts) if parts.nonEmpty =>
          // reference source: with a topic filter, frame 0 is the topic
          // and the payload is the remaining frames concatenated
          val (t, payload) =
            if (topic.nonEmpty)
              (new String(parts.head, UTF_8), parts.tail.flatten.toArray)
            else ("", parts.flatten.toArray)
          handlers.forEach { h =>
            // a faulty handler must not kill the transport reader
            try h(t, payload) catch { case _: Throwable => () }
          }
        case Some(_) => ()
        case None => running = false
      }
    } catch {
      // malformed frame (readFrame require) or any other fault: flip
      // isOpen so the source supervision loop reconnects
      case _: Throwable => ()
    } finally {
      running = false
      try socket.close() catch { case _: Exception => () }
    }
  }, "zmq-sub-reader")

  private[net] def start(): Unit = {
    // subscribe before consuming (reference SetSubscribe then recv loop)
    val sub = 1.toByte +: topic.getBytes(UTF_8)
    Zmtp.writeFrame(out, sub)
    out.flush()
    reader.setDaemon(true)
    reader.start()
  }

  def close(): Unit = {
    running = false
    try socket.close() catch { case _: Exception => () }
  }
}

object ZmqSub {
  /** Connect to tcp://host:port and subscribe to the topic prefix
    * ("" = everything).
    */
  def connect(server: String, topic: String = ""): ZmqSub = {
    val uri = java.net.URI.create(server)
    val socket = new Socket()
    socket.setTcpNoDelay(true)
    socket.connect(new InetSocketAddress(uri.getHost, uri.getPort), 5000)
    val in = new DataInputStream(new java.io.BufferedInputStream(socket.getInputStream))
    val out = new DataOutputStream(new java.io.BufferedOutputStream(socket.getOutputStream))
    try {
      Zmtp.handshake(in, out, asServer = false, socketType = "SUB", accept = Set("PUB", "XPUB"))
      val sub = new ZmqSub(socket, in, out, topic)
      sub.start()
      sub
    } catch {
      case e: Exception =>
        try socket.close() catch { case _: Exception => () }
        throw e
    }
  }
}

/** Process-wide PUB registry for sink endpoints: a zmq PUB sink BINDS
  * its endpoint, so all partitions writing to one endpoint share one
  * bound socket per JVM (per executor on a cluster — subscribers
  * connect to each executor, the zmq fan-in model).
  */
object ZmqEndpoints {
  private val pubs = new ConcurrentHashMap[Int, ZmqPub]()

  /** Get-or-bind the shared PUB for `tcp://host:port`. */
  def pub(endpoint: String): ZmqPub = {
    val port = java.net.URI.create(endpoint).getPort
    require(port > 0, s"zmq endpoint needs an explicit port: $endpoint")
    pubs.computeIfAbsent(port, p => ZmqPub.bind(p))
  }

  def closeAll(): Unit = {
    pubs.forEach((_, p) => p.close())
    pubs.clear()
  }
}
