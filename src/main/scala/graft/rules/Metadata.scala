package graft.rules

import org.json4s._
import org.json4s.jackson.JsonMethods

/** The manager-UI discovery surface (reference
  * internal/server/meta_init.go:47-67): GET /metadata/{functions|
  * operators|sources|sinks|connections} plus per-name detail and the
  * yaml conf-group GET / confKey PUT / DELETE — the endpoints the
  * eKuiper manager populates its pickers from. graft serves its OWN
  * registries: the descriptors below list exactly the source types
  * `Catalog.sourceFor` constructs, the sink kinds `SinkFactory
  * .forKind` resolves, the graph-rule operator nodes `GraphRule
  * .compile` accepts, and the rule-SQL function names
  * `GraftFunctions.registerAll` registers — so what the metadata
  * advertises is what a rule can actually use.
  */
object Metadata {

  /** One advertised component: DDL/action property names are the keys
    * the constructor actually reads (WITH-clause keys lowercase, sink
    * action keys camelCase, matching each surface's parser).
    */
  final case class Component(name: String, about: String,
                             properties: Seq[String],
                             lookup: Boolean = false)

  val sources: Seq[Component] = Seq(
    Component("file", "parquet/csv/json/lines file scan or stream", Seq("datasource", "format")),
    Component("memory", "in-process topic bus", Seq("datasource")),
    Component("simulator", "replayed JSON rows; DATA makes it a lookup table", Seq("data", "seed", "interval"), lookup = true),
    Component("nexmark", "NEXMark benchmark generator (bid|auction|person)", Seq("datasource")),
    Component("random", "seeded random rows from a pattern object", Seq("pattern", "seed", "count", "deduplicate")),
    Component("sql", "JDBC-style table scan/stream; lookup-capable", Seq("dburl", "datasource", "indexfield", "limit", "interval", "cache", "cachettl", "cachemissingkey"), lookup = true),
    Component("redis", "redis lookup table (string|list datatype)", Seq("addr", "datasource", "datatype", "cache", "cachettl", "cachemissingkey"), lookup = true),
    Component("http_pull", "periodic HTTP GET/POST pull; lookup-capable", Seq("url", "interval", "method", "headers", "oauth", "cache", "cachettl", "cachemissingkey"), lookup = true),
    Component("http_push", "HTTP push endpoint feed", Seq("datasource", "method")),
    Component("sse", "server-sent-events subscription", Seq("url", "headers")),
    Component("mqtt", "MQTT subscription", Seq("server", "datasource", "qos", "username", "password", "ssl", "decompression", "decryption")),
    Component("websocket", "websocket frame feed", Seq("addr", "datasource", "decompression", "decryption")),
    Component("kafka", "Kafka consumer", Seq("brokers", "datasource", "saslAuthType", "saslUserName", "saslPassword", "decompression")),
    Component("zmq", "ZeroMQ SUB socket", Seq("server", "datasource")),
    Component("neuron", "Neuron NNG pair bus", Seq("url", "datasource")),
    Component("edgex", "EdgeX message-bus envelope over mqtt/redis", Seq("server", "datasource", "messageType")),
    Component("portable", "portable plugin source process", Seq("plugin", "symbol", "datasource")))

  /** Shaping/delivery props every sink honors (Sink.shaped +
    * ReliableSink): listed once, merged into each detail response.
    */
  val commonSinkProperties: Seq[String] = Seq(
    "dataTemplate", "fields", "excludeFields", "dataField", "sendSingle",
    "omitIfEmpty", "batchSize", "lingerInterval", "format", "compression",
    "encryption", "enableCache", "memoryCacheThreshold", "resendInterval")

  val sinks: Seq[Component] = Seq(
    Component("memory", "in-process topic bus", Seq("topic")),
    Component("file", "rolling file writer", Seq("path", "format", "rollingInterval", "rollingCount")),
    Component("log", "row sample to the engine log", Seq("maxRows")),
    Component("nop", "swallow output (metrics only)", Seq("log")),
    Component("sql", "JDBC-style table append", Seq("dburl", "table")),
    Component("influx", "InfluxDB v1 line protocol", Seq("addr", "measurement", "databasename", "tags")),
    Component("influx2", "InfluxDB v2 line protocol", Seq("addr", "measurement", "org", "bucket", "token", "tags")),
    Component("image", "binary column to image files, aged dir", Seq("path", "imageFormat", "maxAge", "maxCount")),
    Component("mqtt", "MQTT publish", Seq("server", "topic", "qos", "username", "password", "ssl")),
    Component("rest", "HTTP request per batch/row", Seq("url", "method", "headers", "bodyType")),
    Component("redis", "redis key write", Seq("addr", "key", "datatype")),
    Component("websocket", "websocket frame push", Seq("addr", "topic")),
    Component("kafka", "Kafka producer", Seq("brokers", "topic", "saslAuthType", "saslUserName", "saslPassword")),
    Component("zmq", "ZeroMQ PUB socket", Seq("server", "topic")),
    Component("neuron", "Neuron NNG pair bus", Seq("url", "topic")),
    Component("edgex", "EdgeX message-bus envelope", Seq("server", "topic", "messageType")),
    Component("portable", "portable plugin sink process", Seq("plugin", "symbol")))

  /** Graph-rule operator node kinds (GraphRule.compile). */
  val operators: Seq[String] = Seq(
    "aggfunc", "aggregate", "dedup", "expr", "filter", "function",
    "groupby", "having", "join", "limit", "orderby", "pick", "project",
    "switch", "watermark", "window")

  /** Named-connection kinds (Transports registry). */
  val connections: Seq[Component] = Seq(
    Component("mqtt", "MQTT broker connection", Seq("server", "username", "password", "ssl")),
    Component("rest", "HTTP endpoint connection", Seq("url", "headers")),
    Component("websocket", "websocket connection", Seq("addr")),
    Component("kafka", "Kafka cluster connection", Seq("brokers", "saslAuthType")),
    Component("zmq", "ZeroMQ endpoint", Seq("server")),
    Component("neuron", "Neuron NNG endpoint", Seq("url")),
    Component("edgex", "EdgeX bus connection", Seq("server", "messageType")),
    Component("redis", "redis server connection", Seq("addr")))

  /** Rule-SQL function inventory (GraftFunctions.registrations). */
  def functionNames: Seq[String] =
    graft.functions.GraftFunctions.registrations.map(_._1).distinct.sorted

  private def summaryJson(c: Component): JValue = JObject(
    "name" -> JString(c.name), "about" -> JString(c.about),
    "lookup" -> JBool(c.lookup))

  private def detailJson(c: Component, common: Seq[String]): JValue = JObject(
    "name" -> JString(c.name), "about" -> JString(c.about),
    "lookup" -> JBool(c.lookup),
    "properties" -> JArray(c.properties.map(p => JString(p): JValue).toList),
    "commonProperties" -> JArray(common.map(p => JString(p): JValue).toList))

  def listJson(cs: Seq[Component]): String =
    JsonMethods.compact(JsonMethods.render(JArray(cs.map(summaryJson).toList)))

  def detailJson(cs: Seq[Component], name: String,
                 common: Seq[String] = Nil): Option[String] =
    cs.find(_.name == name)
      .map(c => JsonMethods.compact(JsonMethods.render(detailJson(c, common))))

  def namesJson(names: Seq[String]): String =
    JsonMethods.compact(JsonMethods.render(
      JArray(names.map(n => JString(n): JValue).toList)))
}

/** Per-API-instance store of the yaml conf groups (reference
  * sourceConfHandler / sourceConfKeyHandler: the manager saves named
  * property groups — "confKeys" — under each source/sink/connection
  * type and reads them back as one document). Bounded by usage (one
  * entry per saved group); thread-safe for concurrent API calls.
  */
final class ConfStore {
  private val store =
    new java.util.concurrent.ConcurrentHashMap[(String, String), String]()

  def put(component: String, confKey: String, json: String): Unit =
    store.put((component, confKey), json)

  def delete(component: String, confKey: String): Boolean =
    store.remove((component, confKey)) != null

  /** All saved groups of one component as {"key": {...}, ...}. */
  def document(component: String): String = {
    import scala.jdk.CollectionConverters._
    val fields = store.entrySet().asScala.toSeq
      .filter(_.getKey._1 == component)
      .sortBy(_.getKey._2)
      .map(e => e.getKey._2 -> JsonMethods.parse(e.getValue))
    JsonMethods.compact(JsonMethods.render(JObject(fields: _*)))
  }
}
