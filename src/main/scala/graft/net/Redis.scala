package graft.net

import java.io.{BufferedInputStream, BufferedOutputStream, EOFException, InputStream, OutputStream}
import java.net.{InetAddress, ServerSocket, Socket}
import java.nio.charset.StandardCharsets
import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}

/** RESP (REdis Serialization Protocol, the public redis.io wire spec),
  * dependency-free over JDK sockets.
  *
  * The reference's redis source/sink (internal/io/redis/source.go,
  * internal/io/redis/sink.go) wrap go-redis; graft implements the
  * protocol itself — command arrays out, typed replies in, pub/sub
  * push messages — so the transport is REAL and testable in a
  * zero-egress container against [[RedisStubServer]]. Production
  * points the same client at any RESP2 server.
  *
  * Command scope: SUBSCRIBE/UNSUBSCRIBE push mode, PUBLISH, PING —
  * the channel pub/sub surface the reference's redis stream/sink
  * uses — plus the key-value commands behind the redis lookup table
  * (GET/LRANGE/SCAN/SELECT, internal/io/redis/lookup.go).
  */
object Resp {

  /** One decoded RESP value. Arrays decode to Seq[Any]; bulk strings
    * to String (null bulk → null); integers to Long; errors throw at
    * the call site that reads them.
    */
  final case class Error(msg: String)

  /** A bulk string kept as raw bytes — RESP bulks are binary-safe, so
    * the pub/sub payload path must not round-trip through UTF-8 (a
    * compressed/encrypted frame would be garbled). `text` decodes on
    * demand for the command/channel-name positions.
    */
  final class Bulk(val bytes: Array[Byte]) {
    lazy val text: String = new String(bytes, StandardCharsets.UTF_8)
    override def toString: String = text
  }

  /** Encode one command as a RESP array of bulk strings (the only
    * client→server form, spec "Sending commands to a Redis server").
    */
  def writeCommand(out: OutputStream, parts: Seq[String]): Unit = {
    val b = new java.io.ByteArrayOutputStream()
    b.write(s"*${parts.length}\r\n".getBytes(StandardCharsets.US_ASCII))
    parts.foreach { p =>
      val bytes = p.getBytes(StandardCharsets.UTF_8)
      b.write(s"$$${bytes.length}\r\n".getBytes(StandardCharsets.US_ASCII))
      b.write(bytes)
      b.write('\r'); b.write('\n')
    }
    out.write(b.toByteArray)
    out.flush()
  }

  private def readLine(in: InputStream): String = {
    val sb = new StringBuilder
    var b = in.read()
    while (b != '\r') {
      if (b < 0) throw new EOFException("resp: eof in line")
      sb.append(b.toChar)
      b = in.read()
    }
    require(in.read() == '\n', "resp: expected \\n after \\r")
    sb.toString
  }

  /** Read one reply with bulks as raw [[Bulk]] bytes: +simple /
    * -error / :integer / $bulk / *array. Returns String | Long |
    * Error | Bulk | Seq[Any] | null; null return on clean EOF before
    * the first byte.
    */
  def readReplyRaw(in: InputStream): Any = {
    val t = in.read()
    if (t < 0) return null
    t.toChar match {
      case '+' => readLine(in)
      case '-' => Error(readLine(in))
      case ':' => readLine(in).toLong
      case '$' =>
        val n = readLine(in).toInt
        if (n < 0) null
        else {
          val buf = new Array[Byte](n)
          var off = 0
          while (off < n) {
            val r = in.read(buf, off, n - off)
            if (r < 0) throw new EOFException("resp: eof in bulk string")
            off += r
          }
          require(in.read() == '\r' && in.read() == '\n', "resp: bad bulk terminator")
          new Bulk(buf)
        }
      case '*' =>
        val n = readLine(in).toInt
        if (n < 0) null
        else Seq.fill(n)(readReplyRaw(in))
      case other =>
        throw new java.io.IOException(s"resp: unknown reply type '$other'")
    }
  }

  /** [[readReplyRaw]] with every bulk decoded to UTF-8 text — the
    * request/reply command surface, where payloads are always text.
    */
  def readReply(in: InputStream): Any = detext(readReplyRaw(in))

  private def detext(v: Any): Any = v match {
    case b: Bulk => b.text
    case s: Seq[_] => s.map(detext)
    case other => other
  }

  /** "redis://host:port" (or bare "host:port") → (host, port).
    * `rediss://` names the TLS listener (the redis.io URI scheme).
    */
  def parseServer(url: String): (String, Int) =
    if (url.contains("://")) {
      val u = java.net.URI.create(url)
      require(u.getScheme == "redis" || u.getScheme == "rediss",
        s"redis server url must be redis://host:port, got $url")
      (u.getHost, if (u.getPort > 0) u.getPort else 6379)
    } else {
      val i = url.lastIndexOf(':')
      require(i > 0, s"redis server must be host:port, got $url")
      (url.substring(0, i), url.substring(i + 1).toInt)
    }
}

/** Blocking redis client. Two mutually exclusive modes, matching the
  * RESP spec's subscriber-connection restriction: a client that has
  * called [[subscribe]] is a push-mode subscriber (reader thread
  * dispatches `message` pushes; only (UN)SUBSCRIBE/PING allowed); a
  * client that hasn't is a request/reply commander ([[publishChannel]],
  * [[ping]]). `Transports` creates one client per direction, so each
  * instance lives in exactly one mode.
  */
final class RedisClient private (socket: Socket, password: Option[String]) {
  import Resp._

  private val out = new BufferedOutputStream(socket.getOutputStream)
  private val in = new BufferedInputStream(socket.getInputStream)

  // AUTH runs inline before any other traffic (and before the lazy
  // reader thread exists), matching the reference's password connection
  // prop (internal/io/redis/redisSub.go:36-37,60-61). A rejected AUTH
  // throws here; connect() closes the socket.
  password.foreach { pw =>
    writeCommand(out, Seq("AUTH", pw))
    readReply(in) match {
      case "OK" => ()
      case Error(msg) => throw new java.io.IOException(s"redis: AUTH failed: $msg")
      case other => throw new java.io.IOException(s"redis: unexpected AUTH reply $other")
    }
  }
  private val handlers = new ConcurrentHashMap[String, Array[Byte] => Unit]()
  // per-channel waiter with its own outcome flag: the latch also
  // releases on reader death, which must read as failure — but a
  // confirmation that landed just before the drop is still a success
  private final class SubWaiter {
    val latch = new CountDownLatch(1)
    @volatile var confirmed = false
    def complete(): Unit = { confirmed = true; latch.countDown() }
  }
  private val subscribeAcks = new ConcurrentHashMap[String, SubWaiter]()
  @volatile private var subscriberMode = false
  @volatile private var readerDead = false

  private def send(parts: String*): Unit = out.synchronized { writeCommand(out, parts) }

  /** Reader loop for subscriber mode: dispatches `message` pushes to
    * the channel's handler and counts down `subscribe` confirmations.
    */
  private lazy val reader: Thread = {
    val t = new Thread(() => {
      try {
        // raw replies: the message payload bulk must stay bytes — a
        // compressed/encrypted frame would be garbled by UTF-8 decode
        var r = readReplyRaw(in)
        while (r != null) {
          r match {
            case Seq(kind: Bulk, ch: Bulk, payload: Bulk) if kind.text == "message" =>
              val h = handlers.get(ch.text)
              if (h != null) h(payload.bytes)
            case Seq(kind: Bulk, ch: Bulk, _) if kind.text == "subscribe" =>
              Option(subscribeAcks.remove(ch.text)).foreach(_.complete())
            case Seq(kind: Bulk, ch: Bulk, _) if kind.text == "unsubscribe" =>
              Option(subscribeAcks.remove(ch.text)).foreach(_.complete())
            case _ => () // pong / other pushes
          }
          r = readReplyRaw(in)
        }
      } catch { case _: Exception => () }
      finally { // fail any waiter so close() during subscribe can't hang 10 s
        readerDead = true // set BEFORE release so released waiters observe the failure
        subscribeAcks.forEach((_, w) => w.latch.countDown())
        subscribeAcks.clear()
      }
    }, "redis-client-reader")
    t.setDaemon(true)
    t.start()
    t
  }

  /** Enter subscriber mode on `channel`; `handler` runs on the reader
    * thread per published message. Blocks until the server confirms
    * the subscription. Multiple channels per client are fine — each
    * keeps its own handler.
    */
  def subscribe(channel: String, handler: String => Unit): Unit =
    subscribeBytes(channel, bytes => handler(new String(bytes, StandardCharsets.UTF_8)))

  /** Binary-safe subscription: the handler sees the published bulk's
    * raw bytes (compressed/encrypted payloads survive intact).
    */
  def subscribeBytes(channel: String, handler: Array[Byte] => Unit): Unit = {
    subscriberMode = true
    handlers.put(channel, handler)
    val w = new SubWaiter
    subscribeAcks.put(channel, w)
    reader // start the push loop before the confirmation arrives
    send("SUBSCRIBE", channel)
    try {
      // if the reader died before our put, its drain missed this entry —
      // fail fast instead of blocking the full timeout
      if (readerDead && !w.confirmed)
        throw new java.io.IOException(s"redis: connection lost before SUBSCRIBE $channel was confirmed")
      if (!w.latch.await(10, TimeUnit.SECONDS))
        throw new java.io.IOException(s"redis: SUBSCRIBE $channel not confirmed in 10s")
      // reader death also releases the latch; only the per-channel flag
      // distinguishes a real confirmation from the drain
      if (!w.confirmed)
        throw new java.io.IOException(s"redis: connection lost before SUBSCRIBE $channel was confirmed")
    } finally subscribeAcks.remove(channel)
  }

  def unsubscribe(channel: String): Unit = {
    handlers.remove(channel)
    send("UNSUBSCRIBE", channel)
  }

  /** PUBLISH payload to channel; returns the receiver count the server
    * reports. Request/reply mode only.
    */
  def publishChannel(channel: String, payload: String): Long =
    publishChannelBytes(channel, payload.getBytes(StandardCharsets.UTF_8))

  /** RESP bulk strings are binary-safe: compressed/encrypted sink
    * payloads publish as raw bytes, no string round trip.
    */
  def publishChannelBytes(channel: String, payload: Array[Byte]): Long = {
    require(!subscriberMode, "redis: cannot PUBLISH on a subscriber connection")
    out.synchronized {
      val b = new java.io.ByteArrayOutputStream()
      b.write("*3\r\n".getBytes(StandardCharsets.US_ASCII))
      for (part <- Seq("PUBLISH".getBytes(StandardCharsets.US_ASCII),
        channel.getBytes(StandardCharsets.UTF_8), payload)) {
        b.write(s"$$${part.length}\r\n".getBytes(StandardCharsets.US_ASCII))
        b.write(part)
        b.write('\r'); b.write('\n')
      }
      out.write(b.toByteArray)
      out.flush()
      readReply(in) match {
        case n: Long => n
        case Error(msg) => throw new java.io.IOException(s"redis: $msg")
        case other => throw new java.io.IOException(s"redis: unexpected PUBLISH reply $other")
      }
    }
  }

  def ping(): Unit = {
    require(!subscriberMode, "redis: use subscriber-mode ping via SUBSCRIBE keepalive")
    out.synchronized {
      writeCommand(out, Seq("PING"))
      readReply(in) match {
        case "PONG" => ()
        case other => throw new java.io.IOException(s"redis: unexpected PING reply $other")
      }
    }
  }

  /** One request/reply command (bulks decoded as UTF-8 text); -ERR
    * replies throw. The key-value surface the redis lookup table
    * needs (GET/LRANGE/SCAN/SELECT) rides this, as do test fixtures
    * (SET/RPUSH).
    */
  def command(parts: String*): Any = {
    require(!subscriberMode, "redis: request/reply command on a subscriber connection")
    out.synchronized {
      writeCommand(out, parts)
      readReply(in) match {
        case Error(msg) => throw new java.io.IOException(s"redis: ${parts.head}: $msg")
        case v => v
      }
    }
  }

  /** GET key → Some(value) | None when the key is absent. */
  def get(key: String): Option[String] = command("GET", key) match {
    case null => None
    case s: String => Some(s)
    case other => throw new java.io.IOException(s"redis: unexpected GET reply $other")
  }

  /** LRANGE key 0 -1 — the whole list (lookup "list" dataType). */
  def lrange(key: String): Seq[String] = command("LRANGE", key, "0", "-1") match {
    case null => Nil
    case s: Seq[_] => s.map(String.valueOf)
    case other => throw new java.io.IOException(s"redis: unexpected LRANGE reply $other")
  }

  /** Full SCAN cursor walk (redis.io: SCAN guarantees every key
    * present for the whole walk appears at least once) — the
    * production-safe key enumeration; KEYS blocks a real server.
    * Duplicates de-dup here so callers see each key once.
    */
  def scanKeys(pattern: String = "*", countHint: Int = 1000): Seq[String] = {
    val seen = scala.collection.mutable.LinkedHashSet.empty[String]
    var cursor = "0"
    var first = true
    while (first || cursor != "0") {
      first = false
      command("SCAN", cursor, "MATCH", pattern, "COUNT", countHint.toString) match {
        case Seq(c, ks: Seq[_]) =>
          cursor = String.valueOf(c)
          ks.foreach(k => seen += String.valueOf(k))
        case other => throw new java.io.IOException(s"redis: unexpected SCAN reply $other")
      }
    }
    seen.toSeq
  }

  /** SELECT the numbered database (the lookup conf's DATASOURCE). */
  def select(db: Int): Unit = command("SELECT", db.toString) match {
    case "OK" => ()
    case other => throw new java.io.IOException(s"redis: unexpected SELECT reply $other")
  }

  def close(): Unit = try socket.close() catch { case _: Exception => () }
}

object RedisClient {
  /** Connect, optionally AUTH, optionally over TLS (`rediss://` url or
    * explicit config). A failed AUTH throws and closes the socket.
    */
  def connect(serverUrl: String, password: Option[String] = None,
              tls: Option[Tls.ClientConfig] = None): RedisClient = {
    val (host, port) = Resp.parseServer(serverUrl)
    val effectiveTls =
      if (tls.isEmpty && serverUrl.startsWith("rediss://")) Some(Tls.ClientConfig()) else tls
    val s = Tls.socket(host, port, effectiveTls)
    try new RedisClient(s, password)
    catch {
      case e: Throwable =>
        try s.close() catch { case _: Exception => () }
        throw e
    }
  }
}

/** Minimal in-process RESP pub/sub server: SUBSCRIBE / UNSUBSCRIBE /
  * PUBLISH / PING, one thread per connection (test scale). The
  * production deployment points [[RedisClient]] at a real server;
  * this stub exists so the transport is end-to-end testable without
  * egress, exactly like [[MqttBroker]] / [[WebSocketHub]].
  */
final class RedisStubServer private (server: ServerSocket,
                                     password: Option[String]) {
  import Resp._

  /** GET calls served — lets tests count lookup-table round-trips. */
  val gets = new java.util.concurrent.atomic.AtomicLong(0)

  private final class Conn(val socket: Socket) {
    val out = new BufferedOutputStream(socket.getOutputStream)
    val channels = ConcurrentHashMap.newKeySet[String]()
    // authenticated iff no password is required; AUTH flips it
    @volatile var authed: Boolean = password.isEmpty
    @volatile var db: Int = 0 // SELECTed database index
    def push(parts: Seq[Any]): Unit = out.synchronized {
      val b = new java.io.ByteArrayOutputStream()
      b.write(s"*${parts.length}\r\n".getBytes(StandardCharsets.US_ASCII))
      parts.foreach {
        case s: String =>
          val bytes = s.getBytes(StandardCharsets.UTF_8)
          b.write(s"$$${bytes.length}\r\n".getBytes(StandardCharsets.US_ASCII))
          b.write(bytes); b.write('\r'); b.write('\n')
        case raw: Array[Byte] => // binary-safe payload relay
          b.write(s"$$${raw.length}\r\n".getBytes(StandardCharsets.US_ASCII))
          b.write(raw); b.write('\r'); b.write('\n')
        case n: Long => b.write(s":$n\r\n".getBytes(StandardCharsets.US_ASCII))
        case other => throw new IllegalArgumentException(s"resp push: $other")
      }
      out.write(b.toByteArray); out.flush()
    }
  }

  private val conns = ConcurrentHashMap.newKeySet[Conn]()

  // key-value store behind the lookup-table surface: numbered
  // databases of string and list keys (binary-safe values)
  private final class Db {
    val strings = new ConcurrentHashMap[String, Array[Byte]]()
    val lists = new ConcurrentHashMap[String, java.util.List[Array[Byte]]]()
  }
  private val dbs = new ConcurrentHashMap[Integer, Db]()
  private def db(i: Int): Db = dbs.computeIfAbsent(i, _ => new Db)

  private def globMatch(pattern: String, key: String): Boolean =
    key.matches(pattern.flatMap {
      case '*' => ".*"
      case '?' => "."
      case c if "\\^$.|+()[]{}".contains(c) => "\\" + c
      case c => c.toString
    })

  /** Test-fixture convenience: seed a string key directly. */
  def put(key: String, json: String, dbIndex: Int = 0): Unit =
    db(dbIndex).strings.put(key, json.getBytes(StandardCharsets.UTF_8))

  private def allKeys(dbIndex: Int): Seq[String] = {
    import scala.jdk.CollectionConverters._
    val d = db(dbIndex)
    (d.strings.keySet().asScala ++ d.lists.keySet().asScala).toSeq.sorted
  }

  private def bulkReply(v: Array[Byte]): Array[Byte] =
    if (v == null) "$-1\r\n".getBytes(StandardCharsets.US_ASCII)
    else {
      val b = new java.io.ByteArrayOutputStream()
      b.write(s"$$${v.length}\r\n".getBytes(StandardCharsets.US_ASCII))
      b.write(v); b.write('\r'); b.write('\n')
      b.toByteArray
    }

  private def arrayReply(items: Seq[Array[Byte]]): Array[Byte] = {
    val b = new java.io.ByteArrayOutputStream()
    b.write(s"*${items.length}\r\n".getBytes(StandardCharsets.US_ASCII))
    items.foreach(i => b.write(bulkReply(i)))
    b.toByteArray
  }

  private def reply(conn: Conn, bytes: Array[Byte]): Unit = conn.out.synchronized {
    conn.out.write(bytes); conn.out.flush()
  }

  def port: Int = server.getLocalPort
  def address: String =
    if (server.isInstanceOf[javax.net.ssl.SSLServerSocket])
      s"rediss://${server.getInetAddress.getHostAddress}:$port"
    else s"redis://${server.getInetAddress.getHostAddress}:$port"

  private val acceptor = new AcceptLoop(server, "redis-stub")({ s =>
    val conn = new Conn(s)
    conns.add(conn)
    () => serve(conn)
  })

  private def serve(conn: Conn): Unit = {
    val in = new BufferedInputStream(conn.socket.getInputStream)
    try {
      // raw replies: the PUBLISH payload position is binary-safe;
      // command and channel names decode per-position below
      var r = readReplyRaw(in)
      while (r != null) {
        r match {
          case Seq(cmdB: Bulk, rest @ _*) => cmdB.text.toUpperCase match {
            case "AUTH" =>
              val ok = password.exists(p => rest.lastOption.exists {
                case offered: Bulk => java.security.MessageDigest.isEqual(
                  offered.bytes, p.getBytes(StandardCharsets.UTF_8))
                case _ => false
              })
              conn.out.synchronized {
                val reply =
                  if (password.isEmpty) "-ERR Client sent AUTH, but no password is set\r\n"
                  else if (ok) { conn.authed = true; "+OK\r\n" }
                  else "-WRONGPASS invalid username-password pair or user is disabled.\r\n"
                conn.out.write(reply.getBytes(StandardCharsets.US_ASCII))
                conn.out.flush()
              }
            case _ if !conn.authed =>
              conn.out.synchronized {
                conn.out.write("-NOAUTH Authentication required.\r\n"
                  .getBytes(StandardCharsets.US_ASCII))
                conn.out.flush()
              }
            case "SUBSCRIBE" =>
              rest.foreach { case chB: Bulk =>
                val ch = chB.text
                conn.channels.add(ch)
                conn.push(Seq("subscribe", ch, conn.channels.size.toLong))
              }
            case "UNSUBSCRIBE" =>
              rest.foreach { case chB: Bulk =>
                val ch = chB.text
                conn.channels.remove(ch)
                conn.push(Seq("unsubscribe", ch, conn.channels.size.toLong))
              }
            case "PUBLISH" =>
              val Seq(chB: Bulk, payload: Bulk) = rest
              val ch = chB.text
              var n = 0L
              conns.forEach { c =>
                if ((c ne conn) && c.channels.contains(ch)) {
                  try { c.push(Seq("message", ch, payload.bytes)); n += 1 }
                  catch { case _: Exception => () } // dead subscriber
                }
              }
              conn.out.synchronized { // plain :n integer reply, not an array
                conn.out.write(s":$n\r\n".getBytes(StandardCharsets.US_ASCII))
                conn.out.flush()
              }
            case "PING" =>
              conn.out.synchronized {
                conn.out.write("+PONG\r\n".getBytes(StandardCharsets.US_ASCII))
                conn.out.flush()
              }
            // ---- key-value surface (lookup tables + test fixtures) ----
            case "SELECT" =>
              conn.db = rest.head.asInstanceOf[Bulk].text.toInt
              reply(conn, "+OK\r\n".getBytes(StandardCharsets.US_ASCII))
            case "SET" =>
              val Seq(k: Bulk, v: Bulk) = rest.take(2)
              db(conn.db).strings.put(k.text, v.bytes)
              reply(conn, "+OK\r\n".getBytes(StandardCharsets.US_ASCII))
            case "GET" =>
              gets.incrementAndGet()
              val k = rest.head.asInstanceOf[Bulk].text
              // real redis is type-aware: GET on a list key is an error,
              // not nil — the lookup table's skip path depends on it
              if (db(conn.db).lists.containsKey(k))
                reply(conn, ("-WRONGTYPE Operation against a key holding the wrong " +
                  "kind of value\r\n").getBytes(StandardCharsets.US_ASCII))
              else reply(conn, bulkReply(db(conn.db).strings.get(k)))
            case "DEL" =>
              var n = 0L
              rest.foreach { case k: Bulk =>
                val d = db(conn.db)
                if (d.strings.remove(k.text) != null || d.lists.remove(k.text) != null) n += 1
              }
              reply(conn, s":$n\r\n".getBytes(StandardCharsets.US_ASCII))
            case "RPUSH" =>
              val k = rest.head.asInstanceOf[Bulk].text
              val l = db(conn.db).lists.computeIfAbsent(k,
                _ => java.util.Collections.synchronizedList(new java.util.ArrayList[Array[Byte]]()))
              rest.tail.foreach { case v: Bulk => l.add(v.bytes) }
              reply(conn, s":${l.size}\r\n".getBytes(StandardCharsets.US_ASCII))
            case "LRANGE" if db(conn.db).strings.containsKey(rest.head.asInstanceOf[Bulk].text) =>
              reply(conn, ("-WRONGTYPE Operation against a key holding the wrong " +
                "kind of value\r\n").getBytes(StandardCharsets.US_ASCII))
            case "LRANGE" =>
              val Seq(k: Bulk, startB: Bulk, stopB: Bulk) = rest
              val l = Option(db(conn.db).lists.get(k.text))
                .map(x => x.synchronized { new java.util.ArrayList[Array[Byte]](x) })
                .getOrElse(new java.util.ArrayList[Array[Byte]]())
              val n = l.size
              def idx(s: String): Int = { val i = s.toInt; if (i < 0) n + i else i }
              val from = math.max(0, idx(startB.text))
              val to = math.min(n - 1, idx(stopB.text))
              val items = (from to to).map(l.get)
              reply(conn, arrayReply(items))
            case "KEYS" =>
              val pat = rest.head.asInstanceOf[Bulk].text
              reply(conn, arrayReply(allKeys(conn.db).filter(globMatch(pat, _))
                .map(_.getBytes(StandardCharsets.UTF_8))))
            case "SCAN" =>
              // one-page walk: reply cursor 0 with every matching key —
              // a legal SCAN response for a bounded keyspace
              val pat = rest.sliding(2).collectFirst {
                case Seq(m: Bulk, p: Bulk) if m.text.equalsIgnoreCase("MATCH") => p.text
              }.getOrElse("*")
              val ks = allKeys(conn.db).filter(globMatch(pat, _))
                .map(_.getBytes(StandardCharsets.UTF_8))
              val b = new java.io.ByteArrayOutputStream()
              b.write("*2\r\n$1\r\n0\r\n".getBytes(StandardCharsets.US_ASCII))
              b.write(arrayReply(ks))
              reply(conn, b.toByteArray)
            case other =>
              conn.out.synchronized {
                conn.out.write(s"-ERR unknown command '$other'\r\n"
                  .getBytes(StandardCharsets.US_ASCII))
                conn.out.flush()
              }
          }
          case _ => () // ignore non-array noise
        }
        r = readReplyRaw(in)
      }
    } catch { case _: Exception => () }
    finally {
      conns.remove(conn)
      try conn.socket.close() catch { case _: Exception => () }
    }
  }

  def close(): Unit = {
    acceptor.close()
    conns.forEach(c => try c.socket.close() catch { case _: Exception => () })
  }
}

object RedisStubServer {
  /** With `password`, every command before a successful AUTH is refused
    * with -NOAUTH (the requirepass contract). With `tls` the listener
    * presents the configured cert.
    */
  def start(port: Int = 0, password: Option[String] = None,
            tls: Option[Tls.ServerConfig] = None): RedisStubServer = {
    val server = tls match {
      case Some(cfg) => Tls.serverSocket(port, cfg)
      case None => new ServerSocket(port, 50, InetAddress.getLoopbackAddress)
    }
    new RedisStubServer(server, password)
  }
}
