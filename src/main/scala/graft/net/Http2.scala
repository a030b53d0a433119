package graft.net

import java.io.{DataInputStream, DataOutputStream}
import java.net.{InetSocketAddress, ServerSocket, Socket}
import java.nio.charset.StandardCharsets.{US_ASCII, UTF_8}
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

/** Minimal HTTP/2 (RFC 7540) over cleartext TCP (h2c with prior
  * knowledge) carrying unary gRPC (the PUBLIC grpc-over-http2 wire
  * spec): connection preface, SETTINGS exchange, HEADERS + DATA
  * frames, WINDOW_UPDATE bookkeeping, PING reply, and gRPC's 5-byte
  * `flag ++ len32` message framing with `grpc-status` trailers.
  *
  * HPACK (RFC 7541): full integer/string primitives, the complete
  * 61-entry static table, a dynamic table on the DECODE side
  * (incremental-indexing entries are stored and resolvable), FULL
  * Huffman decoding (Appendix B table embedded as spec constants, so
  * responses from real grpc servers — which Huffman-encode when
  * shorter — decode correctly), and literal-without-indexing on the
  * ENCODE side (a compliant, stateless choice).
  */
object Http2 {
  val Preface: Array[Byte] = "PRI * HTTP/2.0\r\n\r\nSM\r\n\r\n".getBytes(US_ASCII)

  // frame types
  val DATA = 0x0
  val HEADERS = 0x1
  val RST_STREAM = 0x3
  val SETTINGS = 0x4
  val PING = 0x6
  val GOAWAY = 0x7
  val WINDOW_UPDATE = 0x8
  val CONTINUATION = 0x9

  final case class Frame(tpe: Int, flags: Int, streamId: Int, payload: Array[Byte])

  def writeFrame(out: DataOutputStream, f: Frame): Unit = {
    out.writeByte((f.payload.length >> 16) & 0xff)
    out.writeByte((f.payload.length >> 8) & 0xff)
    out.writeByte(f.payload.length & 0xff)
    out.writeByte(f.tpe)
    out.writeByte(f.flags)
    out.writeInt(f.streamId & 0x7fffffff)
    out.write(f.payload)
    out.flush()
  }

  def readFrame(in: DataInputStream): Frame = {
    val len = (in.readUnsignedByte() << 16) | (in.readUnsignedByte() << 8) | in.readUnsignedByte()
    require(len <= (1 << 24) - 1 && len >= 0, s"h2 frame too large: $len")
    val tpe = in.readUnsignedByte()
    val flags = in.readUnsignedByte()
    val sid = in.readInt() & 0x7fffffff
    val payload = new Array[Byte](len)
    in.readFully(payload)
    Frame(tpe, flags, sid, payload)
  }

  /** gRPC message framing: flag(0) + u32 length + body. */
  def grpcFrame(msg: Array[Byte]): Array[Byte] = {
    val out = new Array[Byte](5 + msg.length)
    out(0) = 0
    out(1) = ((msg.length >> 24) & 0xff).toByte
    out(2) = ((msg.length >> 16) & 0xff).toByte
    out(3) = ((msg.length >> 8) & 0xff).toByte
    out(4) = (msg.length & 0xff).toByte
    System.arraycopy(msg, 0, out, 5, msg.length)
    out
  }

  def grpcUnframe(data: Array[Byte]): Array[Byte] = {
    require(data.length >= 5, "grpc frame too short")
    require(data(0) == 0, "compressed grpc frames unsupported")
    val len = ((data(1) & 0xff) << 24) | ((data(2) & 0xff) << 16) |
      ((data(3) & 0xff) << 8) | (data(4) & 0xff)
    java.util.Arrays.copyOfRange(data, 5, 5 + len)
  }
}

/** RFC 7541 HPACK: the primitives + static table + decode-side
  * dynamic table. Encoding always uses literal-without-indexing (a
  * fully compliant, stateless choice).
  */
object Hpack {
  /** The complete static table (RFC 7541 Appendix A). */
  val staticTable: IndexedSeq[(String, String)] = IndexedSeq(
    ":authority" -> "", ":method" -> "GET", ":method" -> "POST", ":path" -> "/",
    ":path" -> "/index.html", ":scheme" -> "http", ":scheme" -> "https",
    ":status" -> "200", ":status" -> "204", ":status" -> "206", ":status" -> "304",
    ":status" -> "400", ":status" -> "404", ":status" -> "500",
    "accept-charset" -> "", "accept-encoding" -> "gzip, deflate",
    "accept-language" -> "", "accept-ranges" -> "", "accept" -> "",
    "access-control-allow-origin" -> "", "age" -> "", "allow" -> "",
    "authorization" -> "", "cache-control" -> "", "content-disposition" -> "",
    "content-encoding" -> "", "content-language" -> "", "content-length" -> "",
    "content-location" -> "", "content-range" -> "", "content-type" -> "",
    "cookie" -> "", "date" -> "", "etag" -> "", "expect" -> "", "expires" -> "",
    "from" -> "", "host" -> "", "if-match" -> "", "if-modified-since" -> "",
    "if-none-match" -> "", "if-range" -> "", "if-unmodified-since" -> "",
    "last-modified" -> "", "link" -> "", "location" -> "", "max-forwards" -> "",
    "proxy-authenticate" -> "", "proxy-authorization" -> "", "range" -> "",
    "referer" -> "", "refresh" -> "", "retry-after" -> "", "server" -> "",
    "set-cookie" -> "", "strict-transport-security" -> "", "transfer-encoding" -> "",
    "user-agent" -> "", "vary" -> "", "via" -> "", "www-authenticate" -> "")

  private def writeInt(out: mutable.ArrayBuffer[Byte], value: Int,
                       prefixBits: Int, firstByteFlags: Int): Unit = {
    val max = (1 << prefixBits) - 1
    if (value < max) out += (firstByteFlags | value).toByte
    else {
      out += (firstByteFlags | max).toByte
      var v = value - max
      while (v >= 128) { out += ((v % 128) + 128).toByte; v /= 128 }
      out += v.toByte
    }
  }

  private def writeString(out: mutable.ArrayBuffer[Byte], s: String): Unit = {
    val b = s.getBytes(UTF_8)
    writeInt(out, b.length, 7, 0x00) // H=0: no huffman
    out ++= b
  }

  /** Encode headers as literal-without-indexing with new names. */
  def encode(headers: Seq[(String, String)]): Array[Byte] = {
    val out = mutable.ArrayBuffer[Byte]()
    headers.foreach { case (name, value) =>
      out += 0x00 // literal without indexing, new name
      writeString(out, name)
      writeString(out, value)
    }
    out.toArray
  }

  /** RFC 7541 Appendix B Huffman code table — "code:bits" per symbol
    * 0..256 (256 = EOS). Spec constants (public RFC data), embedded so
    * decode needs no runtime dependency.
    */
  private val huffmanTable: String =
    "8184:13,8388568:23,268435426:28,268435427:28,268435428:28,268435429:" +
    "28,268435430:28,268435431:28,268435432:28,16777194:24,1073741820:30," +
    "268435433:28,268435434:28,1073741821:30,268435435:28,268435436:28,26" +
    "8435437:28,268435438:28,268435439:28,268435440:28,268435441:28,26843" +
    "5442:28,1073741822:30,268435443:28,268435444:28,268435445:28,2684354" +
    "46:28,268435447:28,268435448:28,268435449:28,268435450:28,268435451:" +
    "28,20:6,1016:10,1017:10,4090:12,8185:13,21:6,248:8,2042:11,1018:10,1" +
    "019:10,249:8,2043:11,250:8,22:6,23:6,24:6,0:5,1:5,2:5,25:6,26:6,27:6" +
    ",28:6,29:6,30:6,31:6,92:7,251:8,32764:15,32:6,4091:12,1020:10,8186:1" +
    "3,33:6,93:7,94:7,95:7,96:7,97:7,98:7,99:7,100:7,101:7,102:7,103:7,10" +
    "4:7,105:7,106:7,107:7,108:7,109:7,110:7,111:7,112:7,113:7,114:7,252:" +
    "8,115:7,253:8,8187:13,524272:19,8188:13,16380:14,34:6,32765:15,3:5,3" +
    "5:6,4:5,36:6,5:5,37:6,38:6,39:6,6:5,116:7,117:7,40:6,41:6,42:6,7:5,4" +
    "3:6,118:7,44:6,8:5,9:5,45:6,119:7,120:7,121:7,122:7,123:7,32766:15,2" +
    "044:11,16381:14,8189:13,268435452:28,1048550:20,4194258:22,1048551:2" +
    "0,1048552:20,4194259:22,4194260:22,4194261:22,8388569:23,4194262:22," +
    "8388570:23,8388571:23,8388572:23,8388573:23,8388574:23,16777195:24,8" +
    "388575:23,16777196:24,16777197:24,4194263:22,8388576:23,16777198:24," +
    "8388577:23,8388578:23,8388579:23,8388580:23,2097116:21,4194264:22,83" +
    "88581:23,4194265:22,8388582:23,8388583:23,16777199:24,4194266:22,209" +
    "7117:21,1048553:20,4194267:22,4194268:22,8388584:23,8388585:23,20971" +
    "18:21,8388586:23,4194269:22,4194270:22,16777200:24,2097119:21,419427" +
    "1:22,8388587:23,8388588:23,2097120:21,2097121:21,4194272:22,2097122:" +
    "21,8388589:23,4194273:22,8388590:23,8388591:23,1048554:20,4194274:22" +
    ",4194275:22,4194276:22,8388592:23,4194277:22,4194278:22,8388593:23,6" +
    "7108832:26,67108833:26,1048555:20,524273:19,4194279:22,8388594:23,41" +
    "94280:22,33554412:25,67108834:26,67108835:26,67108836:26,134217694:2" +
    "7,134217695:27,67108837:26,16777201:24,33554413:25,524274:19,2097123" +
    ":21,67108838:26,134217696:27,134217697:27,67108839:26,134217698:27,1" +
    "6777202:24,2097124:21,2097125:21,67108840:26,67108841:26,268435453:2" +
    "8,134217699:27,134217700:27,134217701:27,1048556:20,16777203:24,1048" +
    "557:20,2097126:21,4194281:22,2097127:21,2097128:21,8388595:23,419428" +
    "2:22,4194283:22,33554414:25,33554415:25,16777204:24,16777205:24,6710" +
    "8842:26,8388596:23,67108843:26,134217702:27,67108844:26,67108845:26," +
    "134217703:27,134217704:27,134217705:27,134217706:27,134217707:27,268" +
    "435454:28,134217708:27,134217709:27,134217710:27,134217711:27,134217" +
    "712:27,67108846:26,1073741823:30"

  /** Binary decode trie built once from the table: node → (zeroChild,
    * oneChild), leaves carry the symbol. ~500 nodes.
    */
  private val (huffChildren, huffSymbol): (Array[Array[Int]], Array[Int]) = {
    val entries = huffmanTable.split(",").map { e =>
      val Array(c, b) = e.split(":")
      (c.toLong, b.toInt)
    }
    val children = scala.collection.mutable.ArrayBuffer(Array(-1, -1))
    val symbol = scala.collection.mutable.ArrayBuffer(-1)
    entries.zipWithIndex.foreach { case ((code, bits), sym) =>
      var node = 0
      var i = bits - 1
      while (i >= 0) {
        val bit = ((code >> i) & 1L).toInt
        if (children(node)(bit) == -1) {
          children += Array(-1, -1)
          symbol += -1
          children(node)(bit) = children.length - 1
        }
        node = children(node)(bit)
        i -= 1
      }
      symbol(node) = sym
    }
    (children.toArray, symbol.toArray)
  }

  /** RFC 7541 §5.2 Huffman string decode. Padding must be the EOS
    * prefix (all ones, < 8 bits); an embedded EOS symbol is an error.
    */
  def huffmanDecode(block: Array[Byte], from: Int, len: Int): String = {
    val sb = new java.lang.StringBuilder(len * 2)
    var node = 0
    var bitsSinceSym = 0
    var onesOnly = true
    var i = from
    val end = from + len
    while (i < end) {
      val b = block(i) & 0xff
      var j = 7
      while (j >= 0) {
        val bit = (b >> j) & 1
        val next = huffChildren(node)(bit)
        require(next != -1, "HPACK huffman: invalid code")
        node = next
        bitsSinceSym += 1
        if (bit == 0) onesOnly = false
        val sym = huffSymbol(node)
        if (sym >= 0) {
          require(sym != 256, "HPACK huffman: EOS in string")
          sb.append(sym.toChar)
          node = 0
          bitsSinceSym = 0
          onesOnly = true
        }
        j -= 1
      }
      i += 1
    }
    // RFC 7541 §5.2: padding must be the EOS prefix — all ones, < 8 bits
    require(node == 0 || (bitsSinceSym < 8 && onesOnly), "HPACK huffman: bad padding")
    // bytes decode as ISO-8859-1 code points; reassemble as UTF-8 text
    new String(sb.toString.getBytes("ISO-8859-1"), UTF_8)
  }

  /** Decoder with a per-connection dynamic table. */
  final class Decoder {
    private val dynamic = mutable.ArrayDeque[(String, String)]()
    private var maxDynamic = 4096
    private var dynSize = 0

    private def entry(idx: Int): (String, String) =
      if (idx >= 1 && idx <= staticTable.length) staticTable(idx - 1)
      else {
        val di = idx - staticTable.length - 1
        require(di >= 0 && di < dynamic.length, s"HPACK index $idx out of range")
        dynamic(di)
      }

    private def add(name: String, value: String): Unit = {
      val size = name.length + value.length + 32
      dynamic.prepend((name, value))
      dynSize += size
      while (dynSize > maxDynamic && dynamic.nonEmpty) {
        val (n, v) = dynamic.removeLast()
        dynSize -= n.length + v.length + 32
      }
    }

    def decode(block: Array[Byte]): Seq[(String, String)] = {
      val out = mutable.ArrayBuffer[(String, String)]()
      var pos = 0
      def readInt(prefixBits: Int): Int = {
        val max = (1 << prefixBits) - 1
        var v = block(pos) & max
        pos += 1
        if (v == max) {
          var m = 0
          var cont = true
          while (cont) {
            val b = block(pos) & 0xff
            pos += 1
            v += (b & 0x7f) << m
            m += 7
            cont = (b & 0x80) != 0
          }
        }
        v
      }
      def readString(): String = {
        val huffman = (block(pos) & 0x80) != 0
        val len = readInt(7)
        val s =
          if (huffman) huffmanDecode(block, pos, len)
          else new String(block, pos, len, UTF_8)
        pos += len
        s
      }
      while (pos < block.length) {
        val b = block(pos) & 0xff
        if ((b & 0x80) != 0) { // indexed
          val idx = readInt(7)
          out += entry(idx)
        } else if ((b & 0xc0) == 0x40) { // literal with incremental indexing
          val idx = readInt(6)
          val name = if (idx == 0) readString() else entry(idx)._1
          val value = readString()
          add(name, value)
          out += (name -> value)
        } else if ((b & 0xe0) == 0x20) { // dynamic table size update
          maxDynamic = readInt(5)
          while (dynSize > maxDynamic && dynamic.nonEmpty) {
            val (n, v) = dynamic.removeLast()
            dynSize -= n.length + v.length + 32
          }
        } else { // literal without indexing (0x00) / never indexed (0x10)
          val idx = readInt(4)
          val name = if (idx == 0) readString() else entry(idx)._1
          out += (name -> readString())
        }
      }
      out.toSeq
    }
  }
}

/** One h2c connection carrying serial unary gRPC calls — the client
  * side of the reference's shared grpc.ClientConn.
  */
final class GrpcConnection private[net] (socket: Socket, in: DataInputStream,
                                         out: DataOutputStream, authority: String)
    extends AutoCloseable {
  import Http2._
  private val decoder = new Hpack.Decoder
  private var nextStream = 1
  // SEND-side flow control (RFC 7540 §6.9): both windows start at
  // 65535; the server's SETTINGS_INITIAL_WINDOW_SIZE re-bases stream
  // windows, WINDOW_UPDATE frames replenish. A sender that ignores
  // them stalls or gets RST on any request larger than 64 KiB.
  private var connSendWindow = 65535L
  private var initialStreamWindow = 65535L
  private var maxFrameSize = 16384

  private def applySettings(payload: Array[Byte], adjustStream: Long => Unit): Unit = {
    var i = 0
    while (i + 6 <= payload.length) {
      val id = ((payload(i) & 0xff) << 8) | (payload(i + 1) & 0xff)
      val v = ((payload(i + 2) & 0xffL) << 24) | ((payload(i + 3) & 0xffL) << 16) |
        ((payload(i + 4) & 0xffL) << 8) | (payload(i + 5) & 0xffL)
      id match {
        case 0x4 => // INITIAL_WINDOW_SIZE: delta re-bases open streams (§6.9.2)
          adjustStream(v - initialStreamWindow)
          initialStreamWindow = v
        case 0x5 => maxFrameSize = math.min(v, (1 << 24) - 1).toInt
        case _ => ()
      }
      i += 6
    }
  }

  private[net] def handshake(): Unit = {
    out.write(Preface)
    writeFrame(out, Frame(SETTINGS, 0, 0, Array.emptyByteArray))
    // server SETTINGS must arrive first; ack it
    val f = readFrame(in)
    require(f.tpe == SETTINGS, s"expected SETTINGS, got type ${f.tpe}")
    applySettings(f.payload, _ => ())
    writeFrame(out, Frame(SETTINGS, 0x1, 0, Array.emptyByteArray))
  }

  /** HEADERS payload → HPACK block: strip PADDED (0x8) pad-length +
    * trailing padding and PRIORITY (0x20) 5-byte dependency prefix
    * (§6.2) — decoding them as HPACK would corrupt the dynamic table.
    */
  private def headerBlock(f: Frame): Array[Byte] = {
    var start = 0
    var end = f.payload.length
    if ((f.flags & 0x8) != 0) { // PADDED
      val padLen = f.payload(0) & 0xff
      start += 1
      end -= padLen
      require(end >= start, "h2: HEADERS padding exceeds payload")
    }
    if ((f.flags & 0x20) != 0) start += 5 // PRIORITY: dep(4) + weight(1)
    java.util.Arrays.copyOfRange(f.payload, start, end)
  }

  /** One unary call: returns the response message bytes; non-zero
    * grpc-status raises with the status message.
    */
  def unary(path: String, message: Array[Byte]): Array[Byte] = synchronized {
    val sid = nextStream
    nextStream += 2
    val headers = Hpack.encode(Seq(
      ":method" -> "POST", ":scheme" -> "http", ":path" -> path,
      ":authority" -> authority, "content-type" -> "application/grpc",
      "te" -> "trailers"))
    writeFrame(out, Frame(HEADERS, 0x4, sid, headers)) // END_HEADERS
    val body = grpcFrame(message)
    var streamSendWindow = initialStreamWindow
    var data = Array.emptyByteArray
    var status = -1
    var statusMsg = ""
    var done = false
    def processFrame(f: Frame): Unit =
      f.tpe match {
        case SETTINGS =>
          if ((f.flags & 0x1) == 0) {
            applySettings(f.payload, delta => streamSendWindow += delta)
            writeFrame(out, Frame(SETTINGS, 0x1, 0, Array.emptyByteArray))
          }
        case PING =>
          if ((f.flags & 0x1) == 0) writeFrame(out, Frame(PING, 0x1, 0, f.payload))
        case WINDOW_UPDATE =>
          val incr = java.nio.ByteBuffer.wrap(f.payload).getInt & 0x7fffffff
          if (f.streamId == 0) connSendWindow += incr
          else if (f.streamId == sid) streamSendWindow += incr
        case HEADERS if f.streamId == sid =>
          // gather CONTINUATION frames until END_HEADERS — decoding a
          // partial block would desynchronize HPACK on large trailers
          var block = headerBlock(f)
          var endHeaders = (f.flags & 0x4) != 0
          while (!endHeaders) {
            val c = readFrame(in)
            require(c.tpe == CONTINUATION && c.streamId == sid,
              s"h2: expected CONTINUATION for stream $sid, got type ${c.tpe}")
            block ++= c.payload
            endHeaders = (c.flags & 0x4) != 0
          }
          val hs = decoder.decode(block)
          hs.foreach {
            case ("grpc-status", v) => status = v.toInt
            case ("grpc-message", v) => statusMsg = v
            case (":status", v) =>
              require(v == "200", s"grpc transport error: HTTP $v")
            case _ => ()
          }
          if ((f.flags & 0x1) != 0) done = true // END_STREAM: trailers seen
        case DATA if f.streamId == sid =>
          data ++= f.payload
          // replenish BOTH receive windows: a compliant sender stops
          // at the 65535-byte default — stream-level too, or a
          // >64 KiB unary response deadlocks the read loop
          if (f.payload.nonEmpty) {
            val win = java.nio.ByteBuffer.allocate(4).putInt(f.payload.length).array()
            writeFrame(out, Frame(WINDOW_UPDATE, 0, 0, win))
            if ((f.flags & 0x1) == 0) writeFrame(out, Frame(WINDOW_UPDATE, 0, sid, win))
          }
          if ((f.flags & 0x1) != 0) done = true
        case RST_STREAM if f.streamId == sid =>
          throw new java.io.IOException("grpc stream reset by server")
        case GOAWAY =>
          throw new java.io.IOException("grpc connection going away")
        case _ => () // frames for other streams / extensions: ignore
      }
    // send DATA under both send windows, at most maxFrameSize per
    // frame; when the window is exhausted, drain the peer's frames
    // until a WINDOW_UPDATE (or SETTINGS re-base) opens it
    var off = 0
    while (off < body.length && !done) {
      val window = math.min(connSendWindow, streamSendWindow)
      if (window <= 0) processFrame(readFrame(in))
      else {
        val n = math.min(window, math.min(maxFrameSize.toLong, (body.length - off).toLong)).toInt
        val endStream = if (off + n == body.length) 0x1 else 0x0
        writeFrame(out, Frame(DATA, endStream, sid,
          java.util.Arrays.copyOfRange(body, off, off + n)))
        connSendWindow -= n
        streamSendWindow -= n
        off += n
      }
    }
    // server ended the response while part of the request body was
    // still unsent (flow-control-blocked): close our half with
    // RST_STREAM(CANCEL), or the stream stays half-open on a
    // connection that the registry reuses for the next unary call
    // (RFC 7540 §8.1: a server MAY respond before the request ends)
    if (done && off < body.length)
      writeFrame(out, Frame(RST_STREAM, 0, sid,
        java.nio.ByteBuffer.allocate(4).putInt(0x8).array())) // CANCEL
    while (!done) processFrame(readFrame(in))
    require(status == 0, s"grpc call $path failed: status $status $statusMsg")
    grpcUnframe(data)
  }

  def isOpen: Boolean = !socket.isClosed
  def close(): Unit = { try socket.close() catch { case _: Exception => () } }
}

object GrpcClient {
  def connect(host: String, port: Int): GrpcConnection = {
    val s = new Socket()
    s.setTcpNoDelay(true)
    // a wedged server must raise (→ eviction + redial), not hang the
    // executor thread mid-call forever
    s.setSoTimeout(30000)
    s.connect(new InetSocketAddress(host, port), 5000)
    val conn = new GrpcConnection(s,
      new DataInputStream(new java.io.BufferedInputStream(s.getInputStream)),
      new DataOutputStream(new java.io.BufferedOutputStream(s.getOutputStream)),
      s"$host:$port")
    try { conn.handshake(); conn }
    catch { case e: Exception => conn.close(); throw e }
  }

  /** Shared per-endpoint connections (executor-side), like the
    * reference's one grpc.ClientConn per service.
    */
  private val shared = new ConcurrentHashMap[String, GrpcConnection]()
  def unary(host: String, port: Int, path: String, message: Array[Byte]): Array[Byte] = {
    val conn = shared.compute(s"$host:$port", (_, existing) =>
      if (existing != null && existing.isOpen) existing else connect(host, port))
    try conn.unary(path, message)
    catch {
      case e: java.io.IOException =>
        // dead connection: drop it so the next call redials
        shared.remove(s"$host:$port")
        throw e
    }
  }
  def closeShared(): Unit = {
    shared.forEach((_, c) => c.close())
    shared.clear()
  }
}

/** Minimal unary gRPC SERVER over h2c — the external service a test
  * registers (and a reference for the frame layer's symmetry). One
  * thread per connection; streams answered in completion order.
  */
final class GrpcServer private (server: ServerSocket,
                                handler: (String, Array[Byte]) => Array[Byte])
    extends AutoCloseable {
  import Http2._
  def port: Int = server.getLocalPort

  private val acceptor = new AcceptLoop(server, "grpc-server")(s => () => serve(s))

  private final class StreamState {
    var path: String = ""
    var data: Array[Byte] = Array.emptyByteArray
  }

  private def serve(s: Socket): Unit = {
    val in = new DataInputStream(new java.io.BufferedInputStream(s.getInputStream))
    val out = new DataOutputStream(new java.io.BufferedOutputStream(s.getOutputStream))
    val decoder = new Hpack.Decoder
    try {
      val preface = new Array[Byte](Preface.length)
      in.readFully(preface)
      require(java.util.Arrays.equals(preface, Preface), "bad h2 preface")
      writeFrame(out, Frame(SETTINGS, 0, 0, Array.emptyByteArray))
      val streams = mutable.Map[Int, StreamState]()
      while (true) {
        val f = readFrame(in)
        f.tpe match {
          case SETTINGS =>
            if ((f.flags & 0x1) == 0)
              writeFrame(out, Frame(SETTINGS, 0x1, 0, Array.emptyByteArray))
          case PING =>
            if ((f.flags & 0x1) == 0) writeFrame(out, Frame(PING, 0x1, 0, f.payload))
          case WINDOW_UPDATE => ()
          case HEADERS =>
            val st = streams.getOrElseUpdate(f.streamId, new StreamState)
            decoder.decode(f.payload).foreach {
              case (":path", v) => st.path = v
              case _ => ()
            }
            if ((f.flags & 0x1) != 0) respond(out, f.streamId, streams.remove(f.streamId).get)
          case DATA =>
            val st = streams.getOrElseUpdate(f.streamId, new StreamState)
            st.data ++= f.payload
            if (f.payload.nonEmpty) {
              val win = java.nio.ByteBuffer.allocate(4).putInt(f.payload.length).array()
              writeFrame(out, Frame(WINDOW_UPDATE, 0, 0, win))
              if ((f.flags & 0x1) == 0) writeFrame(out, Frame(WINDOW_UPDATE, 0, f.streamId, win))
            }
            if ((f.flags & 0x1) != 0) respond(out, f.streamId, streams.remove(f.streamId).get)
          case RST_STREAM => streams.remove(f.streamId)
          case GOAWAY => return
          case _ => ()
        }
      }
    } catch { case _: Exception => () }
    finally { try s.close() catch { case _: Exception => () } }
  }

  private def respond(out: DataOutputStream, sid: Int, st: StreamState): Unit = {
    val (status, msg, body) =
      try {
        val resp = handler(st.path, grpcUnframe(st.data))
        (0, "", resp)
      } catch {
        case e: Exception => (2, String.valueOf(e.getMessage), Array.emptyByteArray)
      }
    writeFrame(out, Frame(HEADERS, 0x4, sid, Hpack.encode(Seq(
      ":status" -> "200", "content-type" -> "application/grpc"))))
    if (status == 0 && body.nonEmpty)
      grpcFrame(body).grouped(16384).foreach(chunk =>
        writeFrame(out, Frame(DATA, 0, sid, chunk)))
    writeFrame(out, Frame(HEADERS, 0x4 | 0x1, sid, Hpack.encode(
      Seq("grpc-status" -> status.toString) ++
        (if (msg.nonEmpty) Seq("grpc-message" -> msg) else Nil))))
  }

  def close(): Unit = acceptor.close()
}

object GrpcServer {
  def start(handler: (String, Array[Byte]) => Array[Byte], port: Int = 0): GrpcServer = {
    val server = new ServerSocket()
    server.setReuseAddress(true)
    server.bind(new InetSocketAddress("127.0.0.1", port))
    new GrpcServer(server, handler)
  }
}
