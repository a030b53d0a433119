package graft.net

import java.io.{DataInputStream, DataOutputStream}
import java.net.{InetSocketAddress, ServerSocket, Socket}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable

/** MessagePack codec (msgpack.org spec) + the msgpack-RPC framing the
  * reference's external msgpack services speak
  * (internal/service/executors_msgpack.go via ugorji MsgpackSpecRpc:
  * request `[0, msgid, method, params]`, response
  * `[1, msgid, error, result]`). Implemented from the PUBLIC spec —
  * full type families both directions: nil, bool, int/uint (fix +
  * 8/16/32/64), float32/64, str (fixstr + 8/16/32), bin, array
  * (fixarray + 16/32), map (fixmap + 16/32).
  *
  * Scala-side values: null, Boolean, Long (all integrals), Double,
  * String, Array[Byte], Seq[Any], Map[String, Any].
  */
object Msgpack {

  // ---- encode ----
  def encode(v: Any): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    write(new DataOutputStream(out), v)
    out.toByteArray
  }

  def write(out: DataOutputStream, v: Any): Unit = v match {
    case null => out.writeByte(0xc0)
    case b: Boolean => out.writeByte(if (b) 0xc3 else 0xc2)
    case i: Int => write(out, i.toLong)
    case s: Short => write(out, s.toLong)
    case b: Byte => write(out, b.toLong)
    case l: Long =>
      if (l >= 0) {
        if (l < 0x80) out.writeByte(l.toInt) // positive fixint
        else if (l <= 0xff) { out.writeByte(0xcc); out.writeByte(l.toInt) }
        else if (l <= 0xffff) { out.writeByte(0xcd); out.writeShort(l.toInt) }
        else if (l <= 0xffffffffL) { out.writeByte(0xce); out.writeInt(l.toInt) }
        else { out.writeByte(0xcf); out.writeLong(l) }
      } else {
        if (l >= -32) out.writeByte(0xe0 | (l + 32).toInt) // negative fixint
        else if (l >= Byte.MinValue) { out.writeByte(0xd0); out.writeByte(l.toInt) }
        else if (l >= Short.MinValue) { out.writeByte(0xd1); out.writeShort(l.toInt) }
        else if (l >= Int.MinValue) { out.writeByte(0xd2); out.writeInt(l.toInt) }
        else { out.writeByte(0xd3); out.writeLong(l) }
      }
    case f: Float => out.writeByte(0xca); out.writeFloat(f)
    case d: Double => out.writeByte(0xcb); out.writeDouble(d)
    case s: String =>
      val b = s.getBytes(UTF_8)
      if (b.length < 32) out.writeByte(0xa0 | b.length)
      else if (b.length <= 0xff) { out.writeByte(0xd9); out.writeByte(b.length) }
      else if (b.length <= 0xffff) { out.writeByte(0xda); out.writeShort(b.length) }
      else { out.writeByte(0xdb); out.writeInt(b.length) }
      out.write(b)
    case b: Array[Byte] =>
      if (b.length <= 0xff) { out.writeByte(0xc4); out.writeByte(b.length) }
      else if (b.length <= 0xffff) { out.writeByte(0xc5); out.writeShort(b.length) }
      else { out.writeByte(0xc6); out.writeInt(b.length) }
      out.write(b)
    case xs: Seq[_] =>
      if (xs.length < 16) out.writeByte(0x90 | xs.length)
      else if (xs.length <= 0xffff) { out.writeByte(0xdc); out.writeShort(xs.length) }
      else { out.writeByte(0xdd); out.writeInt(xs.length) }
      xs.foreach(write(out, _))
    case m: scala.collection.Map[_, _] =>
      if (m.size < 16) out.writeByte(0x80 | m.size)
      else if (m.size <= 0xffff) { out.writeByte(0xde); out.writeShort(m.size) }
      else { out.writeByte(0xdf); out.writeInt(m.size) }
      m.foreach { case (k, mv) => write(out, k); write(out, mv) }
    case other =>
      throw new IllegalArgumentException(s"msgpack cannot encode ${other.getClass.getName}")
  }

  // ---- decode ----
  def decode(bytes: Array[Byte]): Any =
    read(new DataInputStream(new java.io.ByteArrayInputStream(bytes)))

  def read(in: DataInputStream): Any = {
    val tag = in.readUnsignedByte()
    if (tag < 0x80) tag.toLong // positive fixint
    else if (tag >= 0xe0) (tag - 0x100).toLong // negative fixint
    else if ((tag & 0xf0) == 0x90) readArray(in, tag & 0x0f)
    else if ((tag & 0xf0) == 0x80) readMap(in, tag & 0x0f)
    else if ((tag & 0xe0) == 0xa0) readStr(in, tag & 0x1f)
    else tag match {
      case 0xc0 => null
      case 0xc2 => false
      case 0xc3 => true
      case 0xc4 => readBin(in, in.readUnsignedByte())
      case 0xc5 => readBin(in, in.readUnsignedShort())
      case 0xc6 => readBin(in, in.readInt())
      case 0xca => in.readFloat().toDouble
      case 0xcb => in.readDouble()
      case 0xcc => in.readUnsignedByte().toLong
      case 0xcd => in.readUnsignedShort().toLong
      case 0xce => in.readInt().toLong & 0xffffffffL
      case 0xcf => in.readLong() // uint64, may overflow — caller's contract
      case 0xd0 => in.readByte().toLong
      case 0xd1 => in.readShort().toLong
      case 0xd2 => in.readInt().toLong
      case 0xd3 => in.readLong()
      case 0xd9 => readStr(in, in.readUnsignedByte())
      case 0xda => readStr(in, in.readUnsignedShort())
      case 0xdb => readStr(in, in.readInt())
      case 0xdc => readArray(in, in.readUnsignedShort())
      case 0xdd => readArray(in, in.readInt())
      case 0xde => readMap(in, in.readUnsignedShort())
      case 0xdf => readMap(in, in.readInt())
      case other =>
        throw new IllegalArgumentException(f"msgpack tag 0x$other%02x unsupported (ext family)")
    }
  }

  private def readStr(in: DataInputStream, n: Int): String = {
    val b = new Array[Byte](n)
    in.readFully(b)
    new String(b, UTF_8)
  }
  private def readBin(in: DataInputStream, n: Int): Array[Byte] = {
    val b = new Array[Byte](n)
    in.readFully(b)
    b
  }
  private def readArray(in: DataInputStream, n: Int): Seq[Any] =
    Vector.fill(n)(read(in))
  private def readMap(in: DataInputStream, n: Int): Map[String, Any] = {
    val m = mutable.LinkedHashMap[String, Any]()
    var i = 0
    while (i < n) {
      val k = read(in) match {
        case s: String => s
        case other => String.valueOf(other)
      }
      m(k) = read(in)
      i += 1
    }
    m.toMap
  }
}

/** msgpack-RPC client over TCP: one connection, sequential msgids,
  * blocking call (the reference executor's net/rpc Call shape).
  */
final class MsgpackRpcClient private (socket: Socket, in: DataInputStream,
                                      out: DataOutputStream) extends AutoCloseable {
  private val msgid = new AtomicInteger()

  def call(method: String, params: Seq[Any]): Any = synchronized {
    val id = msgid.incrementAndGet().toLong
    Msgpack.write(out, Seq[Any](0L, id, method, params))
    out.flush()
    Msgpack.read(in) match {
      case Seq(1L, `id`, err, result) =>
        if (err != null) throw new RuntimeException(s"msgpack-rpc error: ${String.valueOf(err)}")
        result
      case other =>
        throw new IllegalStateException(s"bad msgpack-rpc response: $other")
    }
  }

  def isOpen: Boolean = !socket.isClosed
  def close(): Unit = { try socket.close() catch { case _: Exception => () } }
}

object MsgpackRpcClient {
  def connect(host: String, port: Int): MsgpackRpcClient = {
    val s = new Socket()
    s.setTcpNoDelay(true)
    // a wedged service must raise (→ callShared eviction + redial),
    // not hang the executor thread mid-call forever
    s.setSoTimeout(30000)
    s.connect(new InetSocketAddress(host, port), 5000)
    new MsgpackRpcClient(s,
      new DataInputStream(new java.io.BufferedInputStream(s.getInputStream)),
      new DataOutputStream(new java.io.BufferedOutputStream(s.getOutputStream)))
  }

  /** Executor-side shared connections per addr (one socket per JVM per
    * endpoint — the reference keeps one rpc.Client per service).
    */
  private val shared = new ConcurrentHashMap[String, MsgpackRpcClient]()
  def sharedFor(host: String, port: Int): MsgpackRpcClient =
    shared.compute(s"$host:$port", (_, existing) =>
      if (existing != null && existing.isOpen) existing else connect(host, port))

  /** Shared-connection call with dead-peer eviction: a transport
    * failure (service restart severed the socket — isOpen can't see
    * it) drops the cached client so the NEXT call redials, mirroring
    * the reference's rpc.ErrShutdown → reconnect path.
    */
  def callShared(host: String, port: Int, method: String, params: Seq[Any]): Any =
    try sharedFor(host, port).call(method, params)
    catch {
      case e @ (_: java.io.IOException | _: IllegalStateException) =>
        Option(shared.remove(s"$host:$port")).foreach(_.close())
        throw e
    }

  def closeShared(): Unit = {
    shared.forEach((_, c) => c.close())
    shared.clear()
  }
}

/** msgpack-RPC server double (the external service a test registers):
  * dispatches method → handler over params, replies per the spec.
  */
final class MsgpackRpcServer private (server: ServerSocket,
                                      handlers: Map[String, Seq[Any] => Any])
    extends AutoCloseable {
  def port: Int = server.getLocalPort

  private val acceptor = new AcceptLoop(server, "msgpack-rpc")(s => () => serve(s))

  private def serve(s: Socket): Unit = {
    val in = new DataInputStream(new java.io.BufferedInputStream(s.getInputStream))
    val out = new DataOutputStream(new java.io.BufferedOutputStream(s.getOutputStream))
    try {
      while (true) Msgpack.read(in) match {
        case Seq(0L, id: Long, method: String, params: Seq[_]) =>
          val (err, result) = handlers.get(method) match {
            case Some(h) =>
              try (null, h(params.asInstanceOf[Seq[Any]]))
              catch { case e: Exception => (String.valueOf(e.getMessage), null) }
            case None => (s"rpc: can't find method $method", null)
          }
          Msgpack.write(out, Seq[Any](1L, id, err, result))
          out.flush()
        case other =>
          throw new IllegalStateException(s"bad msgpack-rpc request: $other")
      }
    } catch { case _: Exception => () }
    finally { try s.close() catch { case _: Exception => () } }
  }

  def close(): Unit = acceptor.close()
}

object MsgpackRpcServer {
  def start(handlers: Map[String, Seq[Any] => Any], port: Int = 0): MsgpackRpcServer = {
    val server = new ServerSocket()
    server.setReuseAddress(true)
    server.bind(new InetSocketAddress("127.0.0.1", port))
    new MsgpackRpcServer(server, handlers)
  }
}
