package graft.plugins

import java.util.concurrent.{ConcurrentHashMap, LinkedBlockingQueue, TimeUnit}

import scala.jdk.CollectionConverters._

import graft.net.{NngListener, NngPair}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.RegistryBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.json4s._
import org.json4s.jackson.JsonMethods

/** Portable (out-of-process) function plugins — the reference's
  * portable plugin runtime (internal/plugin/portable/runtime:
  * shared.go message surface, plugin_ins_manager.go process model,
  * function.go call protocol; SDKs under sdk/go, sdk/python).
  *
  * Message surface is the reference's verbatim: the plugin opens the
  * conversation with `handshake` on the control channel; the engine
  * sends `Command{"cmd":"start"|"stop","arg":json(Control)}` and
  * expects `"ok"`; function calls are
  * `FuncData{"func":"Exec"|"Validate"|"IsAggregate","arg":[...]}` →
  * `FuncReply{"state":bool,"result":any}`, with the rule context
  * appended as the last Exec argument.
  *
  * Two substitutions, both forced by the environment and documented:
  *  - transport: nanomsg ipc:// sockets become the SP-over-TCP mapping
  *    graft already speaks (graft.net.Nng, loopback). The reference
  *    derives ipc paths from plugin/symbol names; TCP ports can't be
  *    derived, so the engine BINDS all channels and hands the urls to
  *    the plugin process in its config-JSON argv (the reference passes
  *    PortableConfig the same way).
  *  - socket type: the reference drives mangos REQ/REP backwards
  *    (engine sends on a REP socket, retrying around ErrProtoState) to
  *    get a bidirectional conversation; PAIR is that conversation
  *    encoded honestly, with one in-flight request per channel
  *    enforced by a lock like the reference's channel mutex.
  *
  * Scale note: function channels live per JVM. On a cluster each
  * executor would start its own plugin process (the reference's model
  * is likewise one process per engine instance); local[32] shares one.
  */
object PortablePlugins {

  case class PortableFunction(name: String, returnType: String = "string")
  /** executable == Nil → attach mode: an already-running worker (or a
    * test thread) dials the urls itself. `sources`/`sinks` declare
    * connector symbols beside `functions` — the reference's PluginInfo
    * (internal/plugin/portable/model.go:28-30) declares all three.
    */
  case class PluginMeta(name: String, executable: Seq[String] = Nil,
                        functions: Seq[PortableFunction] = Nil,
                        sources: Seq[String] = Nil,
                        sinks: Seq[String] = Nil)

  /** One bound channel endpoint: request/response with single
    * outstanding request (the reference's per-channel mutex).
    */
  private[plugins] final class Rpc {
    private val listener = NngListener.bind()
    private val inbox = new LinkedBlockingQueue[Array[Byte]]()
    // replies owed to calls that already timed out: the channel is
    // FIFO per connection, so the next `stale` arrivals are answers to
    // abandoned requests and must be discarded, or a late reply would
    // be consumed as the answer to the NEXT call (silent wrong data)
    private val stale = new java.util.concurrent.atomic.AtomicInteger(0)
    listener.onMessage { b =>
      val h = frameHook
      if (h != null) h(b) // push mode: straight to the frame consumer
      else if (stale.getAndUpdate(n => math.max(0, n - 1)) > 0) () // drop late reply
      else inbox.put(b)
    }

    def address: String = listener.address

    def awaitMessage(timeoutMs: Long): Option[Array[Byte]] =
      Option(inbox.poll(timeoutMs, TimeUnit.MILLISECONDS))

    def request(body: Array[Byte], timeoutMs: Long): Array[Byte] = synchronized {
      val deadline = System.currentTimeMillis + timeoutMs
      while (!listener.hasPeer) {
        if (System.currentTimeMillis > deadline)
          throw new IllegalStateException("portable plugin channel has no connected peer")
        Thread.sleep(10)
      }
      inbox.clear()
      listener.send(body)
      awaitMessage(deadline - System.currentTimeMillis).getOrElse {
        stale.incrementAndGet()
        throw new IllegalStateException("portable plugin call timed out")
      }
    }

    /** A dead peer can never deliver its owed replies — forget them
      * (restart path), or the fresh handshake would be discarded.
      */
    def resetStale(): Unit = stale.set(0)

    /** Fire-and-forget send (sink channel without requireAck — the
      * reference's default sink path sends without reading an ack).
      * Workers (incl. the in-repo SDK) may ack anyway; drain the inbox
      * per send so un-read acks can't grow driver memory one entry per
      * delivered row over a long-running rule.
      */
    def send(body: Array[Byte], timeoutMs: Long): Unit = synchronized {
      val deadline = System.currentTimeMillis + timeoutMs
      while (!listener.hasPeer) {
        if (System.currentTimeMillis > deadline)
          throw new IllegalStateException("portable plugin channel has no connected peer")
        Thread.sleep(10)
      }
      inbox.clear() // acks owed by prior fire-and-forget sends
      listener.send(body)
    }

    /** Route raw inbound frames to `h` instead of the request inbox —
      * the source data channel's one-directional push mode.
      */
    def onFrame(h: Array[Byte] => Unit): Unit = frameHook = h
    @volatile private var frameHook: Array[Byte] => Unit = null

    def close(): Unit = listener.close()
  }

  private final class Instance(val meta: PluginMeta, val control: Rpc,
                               val funcChans: Map[String, Rpc],
                               val sourceChans: Map[String, Rpc],
                               val sinkChans: Map[String, Rpc],
                               val conf: String,
                               @volatile var process: Option[Process]) {
    // connector symbols started so far, with their Control payload —
    // replayed after a process restart like the function symbols
    val startedConnectors =
      new ConcurrentHashMap[String, (String, String, Map[String, String])]()
  }

  private val instances = new ConcurrentHashMap[String, Instance]()

  /** Engine-side config JSON handed to the plugin process as argv[1]
    * (reference: PortableConfig json).
    */
  private def confJson(meta: PluginMeta, control: Rpc,
                       funcChans: Map[String, Rpc],
                       sourceChans: Map[String, Rpc],
                       sinkChans: Map[String, Rpc]): String = {
    def urls(m: Map[String, Rpc]) = JObject(m.toList.map {
      case (s, r) => s -> (JString(r.address): JValue)
    })
    JsonMethods.compact(JsonMethods.render(JObject(
      "name" -> JString(meta.name),
      "sendTimeout" -> JInt(1000),
      "controlUrl" -> JString(control.address),
      "functionUrls" -> urls(funcChans),
      "sourceUrls" -> urls(sourceChans),
      "sinkUrls" -> urls(sinkChans))))
  }

  /** Start (or attach) a plugin and register its functions as SQL
    * functions on the session. Returns the config JSON. `onConf` fires
    * once the channels are bound and before the handshake wait — the
    * hook attach-mode workers (no executable) use to dial in.
    */
  def register(spark: SparkSession, meta: PluginMeta,
               initTimeoutMs: Long = 15000,
               onConf: String => Unit = _ => ()): String = {
    require(!instances.containsKey(meta.name), s"plugin ${meta.name} already registered")
    val control = new Rpc
    val funcChans = meta.functions.map(f => f.name -> new Rpc).toMap
    val sourceChans = meta.sources.map(s => s -> new Rpc).toMap
    val sinkChans = meta.sinks.map(s => s -> new Rpc).toMap
    val conf = confJson(meta, control, funcChans, sourceChans, sinkChans)
    val process = meta.executable match {
      case Nil => None
      case exe =>
        val pb = new ProcessBuilder((exe :+ conf).asJava)
        pb.redirectErrorStream(true)
        pb.redirectOutput(ProcessBuilder.Redirect.DISCARD)
        Some(pb.start())
    }
    try {
      onConf(conf)
      // the plugin opens with "handshake" (reference Handshake())
      val hs = control.awaitMessage(initTimeoutMs).map(new String(_))
      require(hs.contains("handshake"),
        s"plugin ${meta.name} control handshake error: got $hs")
      val inst = new Instance(meta, control, funcChans, sourceChans, sinkChans,
        conf, process)
      instances.put(meta.name, inst)
      meta.functions.foreach { f =>
        startSymbol(inst, f.name)
        val ret = sqlType(f.returnType)
        RegistryBridge.register(spark, f.name,
          args => PortableFuncExpr(meta.name, f.name, f.returnType, args, ret))
      }
      conf
    } catch {
      case e: Exception =>
        instances.remove(meta.name) // a failed registration must be retryable
        process.foreach(_.destroyForcibly())
        control.close()
        (funcChans.values ++ sourceChans.values ++ sinkChans.values).foreach(_.close())
        throw e
    }
  }

  private def startSymbol(inst: Instance, symbol: String,
                          pluginType: String = "func",
                          dataSource: String = "",
                          config: Map[String, String] = Map.empty): Unit = {
    val ctrl = JsonMethods.compact(JsonMethods.render(JObject(
      "symbolName" -> JString(symbol),
      "meta" -> JObject("ruleId" -> JString(""), "opId" -> JString(""),
        "instanceId" -> JInt(0)),
      "pluginType" -> JString(pluginType),
      "dataSource" -> JString(dataSource),
      "config" -> JObject(config.toList.map { case (k, v) => k -> (JString(v): JValue) }))))
    val cmd = JsonMethods.compact(JsonMethods.render(JObject(
      "cmd" -> JString("start"), "arg" -> JString(ctrl))))
    val resp = new String(inst.control.request(cmd.getBytes("UTF-8"), 10000))
    require(resp == "ok", s"start symbol $symbol: expected ok, got $resp")
  }

  private def lookupInstance(plugin: String): Instance =
    Option(instances.get(plugin)).getOrElse(
      throw new IllegalStateException(s"plugin $plugin is not registered"))

  /** Start a SOURCE symbol (reference runtime/source.go Connect: the
    * Control names the symbol, pluginType "source", the DATASOURCE
    * topic, and the stream's props) and route every frame the plugin
    * pushes into [[graft.sources.ConnectorFeed]] under
    * ("portable", topic) — from there the existing connector
    * batch/stream plumbing applies unchanged. Idempotent.
    */
  def ensureSource(plugin: String, symbol: String, topic: String,
                   props: Map[String, String] = Map.empty): Unit = {
    val inst = lookupInstance(plugin)
    val chan = inst.sourceChans.getOrElse(symbol, throw new IllegalStateException(
      s"plugin $plugin has no source $symbol"))
    // restart BEFORE registering this symbol: the restart replays only
    // the previously-started set, so the start below runs exactly once
    if (inst.process.exists(!_.isAlive)) restartProcess(inst)
    if (inst.startedConnectors.putIfAbsent(s"source/$symbol",
        ("source", topic, props)) == null) {
      chan.onFrame { b =>
        graft.sources.ConnectorFeed.push("portable", topic,
          new String(b, "UTF-8"), System.currentTimeMillis)
      }
      // a failed start must stay retryable — otherwise every later
      // ensureSource no-ops and the stream reads an empty feed forever
      try startSymbol(inst, symbol, "source", topic, props)
      catch { case e: Throwable =>
        inst.startedConnectors.remove(s"source/$symbol"); throw e
      }
    }
  }

  /** Deliver one payload to a SINK symbol (reference runtime/sink.go:
    * one send per tuple; with requireAck the engine waits for the
    * plugin's reply and fails the batch on a nack). Starts the symbol
    * on first use.
    */
  def sinkSend(plugin: String, symbol: String, payload: Array[Byte],
               requireAck: Boolean, props: Map[String, String] = Map.empty): Unit = {
    val inst = lookupInstance(plugin)
    val chan = inst.sinkChans.getOrElse(symbol, throw new IllegalStateException(
      s"plugin $plugin has no sink $symbol"))
    if (inst.process.exists(!_.isAlive)) restartProcess(inst)
    if (inst.startedConnectors.putIfAbsent(s"sink/$symbol",
        ("sink", "", props)) == null) {
      try startSymbol(inst, symbol, "sink", "", props)
      catch { case e: Throwable =>
        inst.startedConnectors.remove(s"sink/$symbol"); throw e
      }
    }
    if (requireAck) {
      val resp = new String(chan.request(payload, 10000), "UTF-8")
      if (resp.startsWith("error"))
        throw new java.io.IOException(s"portable sink $symbol nack: $resp")
    } else chan.send(payload, 10000)
  }

  private[plugins] def call(plugin: String, symbol: String,
                            payload: String): JValue = {
    val inst = Option(instances.get(plugin)).getOrElse(
      throw new IllegalStateException(s"plugin $plugin is not registered"))
    val chan = inst.funcChans.getOrElse(symbol,
      throw new IllegalStateException(s"plugin $plugin has no symbol $symbol"))
    // the reference's manager restarts a dead plugin process before
    // dispatching (GetOrStartProcess); the bound channels survive, the
    // new process dials back in and symbols are restarted
    if (inst.process.exists(!_.isAlive)) restartProcess(inst)
    JsonMethods.parse(new String(chan.request(payload.getBytes("UTF-8"), 10000), "UTF-8"))
  }

  private def restartProcess(inst: Instance): Unit = inst.synchronized {
    if (inst.process.exists(_.isAlive)) return // another caller won the race
    inst.control.resetStale()
    (inst.funcChans.values ++ inst.sourceChans.values ++
      inst.sinkChans.values).foreach(_.resetStale())
    val pb = new ProcessBuilder((inst.meta.executable :+ inst.conf).asJava)
    pb.redirectErrorStream(true)
    pb.redirectOutput(ProcessBuilder.Redirect.DISCARD)
    inst.process = Some(pb.start())
    // drain any stale control traffic until the fresh handshake shows
    val deadline = System.currentTimeMillis + 15000
    var ok = false
    while (!ok && System.currentTimeMillis < deadline)
      ok = inst.control.awaitMessage(deadline - System.currentTimeMillis)
        .exists(b => new String(b) == "handshake")
    require(ok, s"plugin ${inst.meta.name} restart handshake timed out")
    inst.meta.functions.foreach(f => startSymbol(inst, f.name))
    // replay connector symbols the engine had started (fresh process
    // has no symbol state — the reference restarts symbols the same way)
    inst.startedConnectors.forEach { (key, v) =>
      val (ptype, ds, props) = v
      startSymbol(inst, key.split('/').last, ptype, ds, props)
    }
  }

  def status(name: String): String = Option(instances.get(name)) match {
    case None => "stopped"
    case Some(i) => i.process match {
      case Some(p) if !p.isAlive => "crashed"
      case _ => "running"
    }
  }

  def stop(name: String): Unit = Option(instances.remove(name)).foreach { inst =>
    // best-effort stop commands per symbol (reference CMD_STOP), then teardown
    try {
      inst.meta.functions.foreach { f =>
        val ctrl = JsonMethods.compact(JsonMethods.render(JObject(
          "symbolName" -> JString(f.name), "pluginType" -> JString("func"))))
        val cmd = JsonMethods.compact(JsonMethods.render(JObject(
          "cmd" -> JString("stop"), "arg" -> JString(ctrl))))
        try inst.control.request(cmd.getBytes("UTF-8"), 1000)
        catch { case _: Exception => () }
      }
    } finally {
      inst.process.foreach(_.destroyForcibly())
      inst.control.close()
      (inst.funcChans.values ++ inst.sourceChans.values ++
        inst.sinkChans.values).foreach(_.close())
    }
  }

  def list: Seq[String] = instances.keys.asScala.toSeq.sorted

  /** Test hook: kill the worker process and wait for it to die. */
  private[graft] def killProcessForTest(name: String): Unit =
    Option(instances.get(name)).flatMap(_.process).foreach { p =>
      p.destroyForcibly(); p.waitFor()
    }

  private[plugins] def sqlType(name: String): DataType = name.toLowerCase match {
    case "bigint" | "int" | "long" => LongType
    case "float" | "double" => DoubleType
    case "boolean" | "bool" => BooleanType
    case "array" => ArrayType(StringType)
    case _ => StringType
  }
}

/** Portable SINK plugin as a rule sink (reference runtime/sink.go:
  * Collect sends each tuple's raw bytes on the sink channel, reading an
  * ack when requireAck). dataTemplate/fields shape the payload like any
  * other sink; rows are delivered from partition iterators through the
  * JVM-level plugin registry. Deployment scope: in local mode (and
  * anywhere executors share the engine JVM) this is the registered
  * plugin instance; on a multi-JVM cluster the registry is per-JVM, so
  * executors would need the plugin registered at executor startup (the
  * reference's one-process-per-engine-instance model generalizes to
  * one per worker, but that wiring is NOT yet built) — today this sink
  * is engine-JVM-scoped, like the reference's own single-process sink.
  */
final case class PortableConnectorSink(plugin: String, symbol: String,
                                       options: Map[String, String] = Map.empty)
    extends graft.sinks.Sink {
  private val requireAck = options.get("requireAck").exists(_.equalsIgnoreCase("true"))

  def writeBatch(df: org.apache.spark.sql.DataFrame): Unit = {
    import org.apache.spark.sql.functions.col
    val out = shaped(df)
    val payloadCol = out.schema.fieldNames.toSeq match {
      case Seq("payload") => col("payload")
      case names => graft.sources.Codecs.encode(
        names.map(n => n -> col(n)), options.getOrElse("format", "json"),
        options.getOrElse("delimiter", ","))
    }
    val (p, s, ack, props) = (plugin, symbol, requireAck, options)
    out.select(payloadCol.cast("string").as("payload"))
      .foreachPartition { (rows: Iterator[org.apache.spark.sql.Row]) =>
        rows.foreach(r =>
          PortablePlugins.sinkSend(p, s, r.getString(0).getBytes("UTF-8"), ack, props))
      }
  }
}

/** Portable SOURCE plugin as a stream/table source: the plugin pushes
  * frames on its bound channel; they land in the ConnectorFeed under
  * ("portable", topic), and batch/stream reads ride the existing
  * connector feed plumbing (schema inference, formats, retention).
  */
final case class PortableStreamSource(plugin: String, symbol: String,
                                      topic: String, schema: StructType,
                                      options: Map[String, String] = Map.empty)
    extends graft.sources.Source {
  private def feed(spark: SparkSession): graft.sources.ConnectorSource = {
    PortablePlugins.ensureSource(plugin, symbol, topic, options)
    graft.sources.ConnectorSource("portable", topic, schema,
      options - "server") // no broker bridge — the plugin IS the transport
  }
  def batch(spark: SparkSession): org.apache.spark.sql.DataFrame = feed(spark).batch(spark)
  def stream(spark: SparkSession): org.apache.spark.sql.DataFrame = feed(spark).stream(spark)
}

/** A registered portable function: every evaluation is one FuncData
  * round trip on the symbol's channel (reference function.go Exec).
  * CodegenFallback + non-deterministic: the call leaves the JVM, must
  * re-run per row, and must never constant-fold at plan time.
  */
final case class PortableFuncExpr(plugin: String, symbol: String,
                                  returnTypeName: String,
                                  children: Seq[Expression],
                                  dataType: DataType)
    extends Expression with CodegenFallback {

  override def nullable: Boolean = true
  override lazy val deterministic: Boolean = false

  private def toJson(v: Any, dt: DataType): JValue = v match {
    case null => JNull
    case s: UTF8String => JString(s.toString)
    case b: Array[Byte] => JString(java.util.Base64.getEncoder.encodeToString(b))
    case l: Long => JInt(BigInt(l))
    case i: Int => JInt(BigInt(i))
    case sh: Short => JInt(BigInt(sh.toInt))
    case by: Byte => JInt(BigInt(by.toInt))
    case d: Double => JDouble(d)
    case f: Float => JDouble(f.toDouble)
    case dec: org.apache.spark.sql.types.Decimal => JDouble(dec.toDouble)
    case b: Boolean => JBool(b)
    case a: ArrayData => dt match {
      // element extraction is type-directed: reading an UnsafeArrayData
      // of longs as strings would decode garbage
      case ArrayType(et, _) => JArray(a.toObjectArray(et).map(toJson(_, et)).toList)
      case _ => JArray(a.toObjectArray(StringType).map(toJson(_, StringType)).toList)
    }
    case other => JString(String.valueOf(other))
  }

  override def eval(input: InternalRow): Any = {
    val args = children.map(c => toJson(c.eval(input), c.dataType))
    // the reference appends the encoded rule context as the last arg
    val ctx = JObject("ruleId" -> JString(""), "opId" -> JString(""),
      "instanceId" -> JInt(0))
    val payload = JsonMethods.compact(JsonMethods.render(JObject(
      "func" -> JString("Exec"),
      "arg" -> JArray(args.toList :+ (ctx: JValue)))))
    val reply = PortablePlugins.call(plugin, symbol, payload)
    val state = (reply \ "state") == JBool(true)
    val result = reply \ "result"
    if (!state)
      throw new IllegalStateException(
        s"portable function $symbol error: ${JsonMethods.compact(JsonMethods.render(result))}")
    coerce(result)
  }

  private def coerce(v: JValue): Any = dataType match {
    case LongType => v match {
      case JInt(n) => n.toLong; case JLong(n) => n
      case JDouble(d) => d.toLong; case JString(s) => s.toLong
      case _ => null }
    case DoubleType => v match {
      case JDouble(d) => d; case JInt(n) => n.toDouble
      case JLong(n) => n.toDouble; case JString(s) => s.toDouble
      case _ => null }
    case BooleanType => v match {
      case JBool(b) => b; case _ => null }
    case ArrayType(StringType, _) => v match {
      case JArray(xs) => new GenericArrayData(
        xs.map(x => UTF8String.fromString(raw(x))).toArray[Any])
      case _ => null }
    case _ => v match {
      case JNull | JNothing => null
      case other => UTF8String.fromString(raw(other))
    }
  }

  private def raw(v: JValue): String = v match {
    case JString(s) => s
    case other => JsonMethods.compact(JsonMethods.render(other))
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): PortableFuncExpr =
    copy(children = newChildren)
}

/** Plugin-side SDK (the reference's sdk/go mirror): dial the urls from
  * the config JSON, answer the control conversation, serve function
  * calls from plain Scala handlers. Used by external worker processes
  * ([[PortableWorkerMain]]) and by in-process test workers alike.
  */
object PortableWorker {

  final class Running private[PortableWorker] (
      conns: java.util.concurrent.CopyOnWriteArrayList[NngPair]) extends AutoCloseable {
    def close(): Unit = conns.forEach(_.close())
  }

  /** `handlers`: symbol → function over decoded JSON args (minus the
    * trailing ctx). Throwing produces `{"state":false,"result":msg}`.
    * `sources`: source symbol → producer invoked with (dataSource,
    * send) on the start command; it pushes frames at its own pace
    * (spawn a thread for a continuous feed). `sinks`: sink symbol →
    * consumer of each delivered payload; the worker always replies
    * "ok"/"error:..." so requireAck engines see a verdict per send.
    */
  def connect(confJson: String, handlers: Map[String, Seq[JValue] => JValue],
              sources: Map[String, (String, Array[Byte] => Unit) => Unit] = Map.empty,
              sinks: Map[String, Array[Byte] => Unit] = Map.empty): Running = {
    val conf = JsonMethods.parse(confJson)
    val controlUrl = (conf \ "controlUrl") match {
      case JString(u) => u
      case _ => throw new IllegalArgumentException("conf needs controlUrl")
    }
    def urlMap(field: String): Map[String, String] = (conf \ field) match {
      case JObject(fs) => fs.collect { case JField(k, JString(u)) => k -> u }.toMap
      case _ => Map.empty[String, String]
    }
    val funcUrls = urlMap("functionUrls")
    val sourceUrls = urlMap("sourceUrls")
    val sinkUrls = urlMap("sinkUrls")
    val control = NngPair.dial(controlUrl)
    val open = new java.util.concurrent.CopyOnWriteArrayList[NngPair]()
    open.add(control)
    control.onMessage { body =>
      val cmd = JsonMethods.parse(new String(body, "UTF-8"))
      (cmd \ "cmd") match {
        case JString("start") =>
          val ctl = JsonMethods.parse((cmd \ "arg") match {
            case JString(a) => a; case _ => "{}"
          })
          val symbol = (ctl \ "symbolName") match { case JString(s) => s; case _ => "" }
          val pluginType = (ctl \ "pluginType") match { case JString(s) => s; case _ => "func" }
          val dataSource = (ctl \ "dataSource") match { case JString(s) => s; case _ => "" }
          if (pluginType == "source") {
            // dial the source data channel and hand its send fn to the
            // producer (reference SDK: the source symbol pushes tuples)
            sources.get(symbol).zip(sourceUrls.get(symbol)).foreach {
              case (producer, url) =>
                val chan = NngPair.dial(url)
                open.add(chan)
                producer(dataSource, chan.send)
            }
          } else if (pluginType == "sink") {
            // dial the sink data channel; every delivered payload goes
            // to the consumer, acked ok/error (reference SDK sink loop)
            sinks.get(symbol).zip(sinkUrls.get(symbol)).foreach {
              case (consumer, url) =>
                // the engine sends as soon as it sees the dial: register
                // the consumer before the reader starts
                open.add(NngPair.dial(url, { (chan, payload) =>
                  val reply =
                    try { consumer(payload); "ok" }
                    catch { case e: Exception => s"error:${e.getMessage}" }
                  chan.send(reply.getBytes("UTF-8"))
                }))
            }
          } else handlers.get(symbol).zip(funcUrls.get(symbol)).foreach {
            case (handler, url) =>
              open.add(NngPair.dial(url, { (chan, req) =>
                val reply =
                  try {
                    val data = JsonMethods.parse(new String(req, "UTF-8"))
                    (data \ "func") match {
                      case JString("Exec") =>
                        val args = (data \ "arg") match {
                          case JArray(xs) => xs.dropRight(1) // trailing ctx
                          case _ => Nil
                        }
                        JObject("state" -> JBool(true), "result" -> handler(args))
                      case JString("Validate") =>
                        JObject("state" -> JBool(true), "result" -> JNull)
                      case JString("IsAggregate") =>
                        JObject("state" -> JBool(true), "result" -> JBool(false))
                      case other =>
                        JObject("state" -> JBool(false),
                          "result" -> JString(s"unknown func $other"))
                    }
                  } catch {
                    case e: Exception =>
                      JObject("state" -> JBool(false),
                        "result" -> JString(String.valueOf(e.getMessage)))
                  }
                chan.send(JsonMethods.compact(JsonMethods.render(reply)).getBytes("UTF-8"))
              }))
          }
          control.send("ok".getBytes("UTF-8"))
        case JString("stop") => control.send("ok".getBytes("UTF-8"))
        case _ => control.send("error".getBytes("UTF-8"))
      }
    }
    // the plugin opens the conversation (reference sdk handshake)
    control.send("handshake".getBytes("UTF-8"))
    new Running(open)
  }
}

/** SDK example worker (the reference's sdk sample plugins): serves
  * `plugin_rev` (string reverse) and `plugin_addone` (bigint + 1).
  * Spawned as `java -cp <cp> graft.plugins.PortableWorkerMain <conf>`
  * by the process-mode spec — a REAL separate process end-to-end.
  */
object PortableWorkerMain {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: PortableWorkerMain <confJson>")
    // loopback connector pair: the `plugin_feed` SOURCE emits three
    // seed frames on start, and the `plugin_echo` SINK re-emits every
    // payload it receives through the source channel — so an engine in
    // another JVM can observe the full sink→plugin→source round trip.
    @volatile var feedSend: Array[Byte] => Unit = null
    PortableWorker.connect(args(0), Map(
      "plugin_rev" -> { as =>
        JString(as.headOption.collect { case JString(s) => s.reverse }.getOrElse(""))
      },
      "plugin_addone" -> { as =>
        JInt(as.headOption.collect {
          case JInt(n) => n + 1
          case JLong(n) => BigInt(n) + 1
        }.getOrElse(BigInt(0)))
      }),
      sources = Map("plugin_feed" -> { (ds, send) =>
        feedSend = send
        (1 to 3).foreach(i => send(s"""{"x":$i,"topic":"$ds"}""".getBytes("UTF-8")))
      }),
      sinks = Map("plugin_echo" -> { payload =>
        val s = feedSend
        require(s != null, "echo sink used before the feed source started")
        s(payload)
      }))
    // stay alive until the engine kills the process (reference model)
    while (true) Thread.sleep(1000)
  }
}
