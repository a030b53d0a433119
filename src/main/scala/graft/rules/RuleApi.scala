package graft.rules

import graft.sinks._
import org.json4s._
import org.json4s.jackson.JsonMethods

/** The reference's REST management surface (internal/server: streams
  * and rules CRUD) as a transport-free request handler — the container
  * has no HTTP server, so the routing/payload layer is modeled as a
  * pure function `handle(method, path, body) → (status, json)`; an
  * HTTP frontend would be a ~20-line shim over it.
  *
  * Endpoints (mirroring the reference):
  *   POST   /streams            {"sql": "CREATE STREAM …"}
  *   GET    /streams            | GET /streams/{name} | DELETE /streams/{name}
  *   POST   /rules              {"id", "sql", "actions":[{"memory":{"topic":…}}, …]}
  *   GET    /rules              | GET /rules/{id}/status | DELETE /rules/{id}
  *   POST   /rules/{id}/start   | POST /rules/{id}/stop
  *   GET    /rules/{id}/explain
  *   GET    /data/export        | POST /data/import   (import_export.go)
  *   GET    /metrics            (all rules' counters in one document)
  */
final class RuleApi(engine: RuleEngine) {

  // original posted definitions, for export/import round trips
  // (reference: internal/server/import_export.go works on the JSON
  // configuration, not the compiled objects)
  private val streamDdl = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private val ruleJson = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private val startMs = System.currentTimeMillis
  /** Named trial rules; RuleServer streams their feeds at /test/{id}. */
  private[rules] val trials = new TrialManager(engine)
  private val basicConfig = new java.util.concurrent.ConcurrentHashMap[String, String]()
  @volatile private var lastImport = """{"streams":0,"rules":0,"errors":[]}"""
  /** Saved /metadata conf groups (manager-UI property presets). */
  private val confStore = new ConfStore
  /** Remote-collector config accepted by POST /tracer. */
  @volatile private var tracerConfig = "{}"

  private def configJson: String = {
    val tz = Option(basicConfig.get("timezone"))
      .getOrElse(engine.session.conf.get("spark.sql.session.timeZone"))
    val ll = Option(basicConfig.get("logLevel")).getOrElse("warn")
    s"""{"basic":{"logLevel":${JsonMethods.compact(JString(ll))},""" +
      s""""timezone":${JsonMethods.compact(JString(tz))}}}"""
  }

  private def ok(json: String): (Int, String) = (200, json)
  private def err(code: Int, msg: String): (Int, String) =
    (code, s"""{"error":${JsonMethods.compact(JString(msg))}}""")

  private def createRule(body: String): String = {
    val j = JsonMethods.parse(body)
    val id = (j \ "id") match { case JString(s) => s
      case _ => throw new IllegalArgumentException("rule needs an id") }
    val sql = (j \ "sql") match { case JString(s) => s
      case _ => throw new IllegalArgumentException("rule needs sql") }
    val streaming = (j \ "streaming") == JBool(true)
    val sinks = (j \ "actions") match {
      case JArray(actions) => actions.map(RuleApi.parseAction)
      case _ => Seq(LogSink())
    }
    // rule options (reference rule JSON "options"): restartStrategy,
    // datetime run windows, live lookup, trigger interval, checkpoint
    def num(v: JValue): Option[Long] = v match {
      case JInt(n) => Some(n.toLong); case JLong(n) => Some(n)
      case JDouble(d) => Some(d.toLong); case _ => None
    }
    val opts = j \ "options"
    val restart = (opts \ "restartStrategy") match {
      case o: JObject => RestartPolicy(
        attempts = num(o \ "attempts").getOrElse(0L).toInt,
        delayMs = num(o \ "delay").getOrElse(1000L),
        multiplier = (o \ "multiplier") match {
          case JDouble(d) => d; case JInt(n) => n.toDouble; case _ => 2.0 },
        maxDelayMs = num(o \ "maxDelay").getOrElse(30000L))
      case _ => RestartPolicy()
    }
    val schedule = (opts \ "schedule") match {
      case JArray(ws) => ws.flatMap { w =>
        for (b <- num(w \ "begin"); e <- num(w \ "end")) yield ScheduleRange(b, e) }
      case _ => Nil
    }
    // periodic rules (reference options "cron" + "duration"): the rule
    // runs for `duration` at every cron fire; any `schedule` ranges
    // gate which fires count (cronDatetimeRange)
    val cron = (opts \ "cron") match {
      case JString(expr) =>
        val dur = (opts \ "duration") match {
          case JString(d) => Cron.parseDuration(d)
          case other => num(other).map(_ * 1000).getOrElse(throw new IllegalArgumentException(
            "cron rule needs a \"duration\" (e.g. \"10m\")"))
        }
        Some(CronSchedule(expr, dur))
      case _ => None
    }
    engine.create(Rule(id, sql, sinks, streaming = streaming,
      triggerMs = num(opts \ "trigger").getOrElse(0L),
      checkpointDir = (opts \ "checkpoint") match {
        case JString(c) => Some(c); case _ => None },
      restart = restart, schedule = schedule, cron = cron,
      liveLookup = (opts \ "liveLookup") == JBool(true),
      tags = (j \ "tags") match {
        case JArray(ts) => ts.collect { case JString(t) => t }
        case _ => Nil
      }))
    ruleJson.put(id, JsonMethods.compact(JsonMethods.render(j)))
    id
  }

  def handle(method: String, path: String, body: String = ""): (Int, String) = try {
    // optional query string ("?limit=5") — parsed here so every
    // transport (HTTP frontend, tests, batch/req) gets it uniformly
    val (rawPath, query) = path.indexOf('?') match {
      case -1 => (path, Map.empty[String, String])
      case i => (path.substring(0, i),
        path.substring(i + 1).split('&').toSeq.filter(_.nonEmpty).map { kv =>
          kv.indexOf('=') match {
            case -1 => kv -> ""
            case j => kv.substring(0, j) ->
              java.net.URLDecoder.decode(kv.substring(j + 1), "UTF-8")
          }
        }.toMap)
    }
    val parts = rawPath.stripPrefix("/").stripSuffix("/").split("/").toList
    (method.toUpperCase, parts) match {
      case ("POST", List("streams")) =>
        val sql = (JsonMethods.parse(body) \ "sql") match {
          case JString(s) => s
          case _ => return err(400, "body needs {\"sql\": \"CREATE STREAM ...\"}")
        }
        val d = engine.createStream(sql)
        streamDdl.put(d.name, sql)
        ok(s"""{"name":"${d.name}"}""")
      case ("GET", List("streams")) =>
        ok(engine.catalog.list.filterNot(n => engine.catalog.get(n).exists(_.isTable))
          .map("\"" + _ + "\"").mkString("[", ",", "]"))
      case ("GET", List("streams", name)) =>
        engine.catalog.get(name) match {
          case Some(d) => ok(
            s"""{"name":"${d.name}","isTable":${d.isTable},""" +
              s""""timestamp":${d.timestampCol.map("\"" + _ + "\"").getOrElse("null")}}""")
          case None => err(404, s"stream $name not found")
        }
      case ("DELETE", List("streams", name)) =>
        engine.catalog.drop(name); streamDdl.remove(name); ok("{}")

      // tables share the stream catalog but carry isTable (reference
      // rest.go /tables — same DDL handler, TABLE keyword required)
      case ("POST", List("tables")) =>
        val sql = (JsonMethods.parse(body) \ "sql") match {
          case JString(s) => s
          case _ => return err(400, "body needs {\"sql\": \"CREATE TABLE ...\"}")
        }
        val d = engine.createStream(sql)
        if (!d.isTable) {
          engine.catalog.drop(d.name)
          return err(400, s"${d.name} is a stream; POST it to /streams")
        }
        streamDdl.put(d.name, sql)
        ok(s"""{"name":"${d.name}"}""")
      case ("GET", List("tables")) =>
        ok(engine.catalog.list.filter(n => engine.catalog.get(n).exists(_.isTable))
          .map("\"" + _ + "\"").mkString("[", "," , "]"))
      case ("GET", List("tables", name)) =>
        engine.catalog.get(name).filter(_.isTable) match {
          case Some(d) => ok(s"""{"name":"${d.name}","isTable":true}""")
          case None => err(404, s"table $name not found")
        }
      case ("DELETE", List("tables", name)) =>
        engine.catalog.drop(name); streamDdl.remove(name); ok("{}")

      // stream/table details + schemas + in-place DDL update
      // (reference rest.go streamdetails/tabledetails, {name}/schema,
      // PUT /streams/{name})
      case ("GET", List(d @ ("streamdetails" | "tabledetails"))) =>
        val wantTable = d == "tabledetails"
        val items = engine.catalog.list.flatMap(n => engine.catalog.get(n))
          .filter(_.isTable == wantTable)
          .map(s => s"""{"name":${JsonMethods.compact(JString(s.name))},""" +
            s""""type":${JsonMethods.compact(JString(s.typ))}}""")
        ok(items.mkString("[", ",", "]"))
      case ("GET", List(k @ ("streams" | "tables"), name, "schema")) =>
        engine.catalog.get(name).filter(_.isTable == (k == "tables")) match {
          case Some(s) => ok(JsonMethods.compact(JObject(
            s.schema.fields.toList.map(f => f.name -> (JString(f.dataType.sql): JValue)))))
          case None => err(404, s"$name not found")
        }
      case ("PUT", List(k @ ("streams" | "tables"), name)) =>
        val sql = (JsonMethods.parse(body) \ "sql") match {
          case JString(s) => s
          case _ => return err(400, "body needs {\"sql\": \"CREATE ...\"}")
        }
        val d = Catalog.parseDdl(sql)
        if (d.name.toLowerCase != name.toLowerCase)
          return err(400, s"DDL defines ${d.name}, not $name")
        if (d.isTable != (k == "tables"))
          return err(400, s"${d.name} kind does not match /$k")
        engine.catalog.register(d)
        streamDdl.put(d.name, sql)
        ok(s"""{"name":"${d.name}","status":"updated"}""")

      // basic config patch (reference import_export.go
      // configurationUpdateHandler): logLevel maps to the Spark
      // context's level, timezone to spark.sql.session.timeZone
      case ("PATCH", List("configs")) =>
        val j = JsonMethods.parse(body)
        (j \ "logLevel") match {
          case JString(l) =>
            val level = l.toUpperCase match {
              case "DEBUG" | "INFO" | "WARN" | "ERROR" | "FATAL" | "TRACE" => l.toUpperCase
              case other => return err(400, s"unknown logLevel $other")
            }
            engine.session.sparkContext.setLogLevel(level)
            basicConfig.put("logLevel", level.toLowerCase)
          case _ => ()
        }
        (j \ "timezone") match {
          case JString(tz) =>
            try java.time.ZoneId.of(tz)
            catch { case _: Exception => return err(400, s"unknown timezone $tz") }
            engine.session.conf.set("spark.sql.session.timeZone", tz)
            basicConfig.put("timezone", tz)
          case _ => ()
        }
        ok(configJson)
      case ("GET", List("configs")) => ok(configJson)

      // server info + health (reference rest.go "/" and "/ping")
      case ("GET", List("")) =>
        ok(s"""{"version":"graft","os":${JsonMethods.compact(JString(System.getProperty("os.name")))},""" +
          s""""upTimeSeconds":${(System.currentTimeMillis - startMs) / 1000}}""")
      case ("GET", List("ping")) => ok("{}")

      case ("POST", List("rules")) =>
        val id = createRule(body)
        ok(s"""{"id":"$id","status":"created"}""")
      case ("GET", List("rules")) =>
        ok(engine.list.map("\"" + _ + "\"").mkString("[", ",", "]"))
      // describe / update one rule (reference ruleHandler GET + PUT):
      // GET returns the posted definition; PUT replaces it under the
      // same id (stops a running instance first, like the reference's
      // update-and-restart path)
      case ("GET", List("rules", id)) =>
        Option(ruleJson.get(id)) match {
          case Some(js) => ok(js)
          case None => err(404, s"rule $id not found")
        }
      case ("PUT", List("rules", id)) =>
        if (!engine.list.contains(id)) return err(404, s"rule $id not found")
        val j = JsonMethods.parse(body)
        (j \ "id") match {
          case JString(bid) if bid != id =>
            return err(400, s"body id $bid does not match path id $id")
          case _ => ()
        }
        val withId =
          if ((j \ "id") == JNothing)
            JsonMethods.compact(JsonMethods.render(
              JObject(j.asInstanceOf[JObject].obj :+ JField("id", JString(id)))))
          else body
        val oldJs = ruleJson.get(id)
        // the reference's update path restarts a running rule under the
        // new definition — remember whether it was running
        val wasRunning = engine.status(id).state.toString.toLowerCase.contains("running")
        try engine.stop(id) catch { case _: IllegalStateException => () }
        engine.delete(id); ruleJson.remove(id)
        try {
          createRule(withId)
          if (wasRunning) engine.start(id)
          ok(s"""{"id":"$id","status":"updated"}""")
        } catch {
          case e: Exception => // restore the previous definition (and run state)
            if (oldJs != null) try {
              createRule(oldJs)
              if (wasRunning) engine.start(id)
            } catch { case _: Exception => () }
            throw e
        }
      case ("POST", List("rules", id, "start")) =>
        engine.start(id); ok(s"""{"id":"$id","status":"started"}""")
      case ("POST", List("rules", id, "stop")) =>
        engine.stop(id); ok(s"""{"id":"$id","status":"stopped"}""")
      case ("GET", List("rules", id, "status")) =>
        val st = engine.status(id)
        ok(s"""{"id":${JsonMethods.compact(JString(id))},""" +
          s""""state":${JsonMethods.compact(JString(st.state.toString))},""" +
          s""""batches":${st.batchesProcessed},"rows":${st.rowsProcessed}}""")
      // PUT /rules/{id}/reset_state (reference rule_state.go): type 0
      // = UpdateRuleOffset — rewind a stream's progressive offset on a
      // RUNNING rule. Only offset-owning sources (sql progressive
      // pull) support this; checkpoint-owned streaming offsets are the
      // engine's (the reference's ResetStreamOffset is likewise
      // source-specific).
      case ("PUT", List("rules", id, "reset_state")) =>
        val j = JsonMethods.parse(body)
        val stateType = (j \ "type") match {
          case JInt(v) => v.toInt
          case _ => 0
        }
        if (stateType != 0) return err(400, s"unknown stateType:$stateType")
        if (engine.status(id).state != RuleState.Running)
          return err(400, s"rule $id should be running when modify state")
        val streamName = (j \ "params" \ "streamName") match {
          case JString(s) => s
          case _ => return err(400, "params.streamName is required")
        }
        val input = (j \ "params" \ "input") match {
          case JObject(fs) => fs.collect {
            case JField(k, JInt(v)) => k -> (v.toLong: Any)
            case JField(k, JLong(v)) => k -> (v: Any)
            case JField(k, JDouble(v)) => k -> (v: Any)
            case JField(k, JString(v)) => k -> (v: Any)
          }.toMap
          case _ => Map.empty[String, Any]
        }
        engine.catalog.get(streamName) match {
          case Some(sd) => sd.source match {
            case s: graft.sources.SqlSource =>
              s.rewind(input)
              ok("\"success\"")
            case other => err(400,
              s"stream $streamName (${other.getClass.getSimpleName}) does not own a " +
                "rewindable offset — streaming offsets live in the rule's checkpoint")
          }
          case None => err(404, s"stream $streamName is not found")
        }

      case ("GET", List("rules", id, "explain")) =>
        ok(JsonMethods.compact(JString(engine.explain(id))))
      // rule tracing (reference rest.go:216-217,247-249 + pkg/tracer):
      // start/stop toggle capture; /trace/rule/{id} lists trace ids
      // newest first; /trace/{id} returns the span tree
      case ("POST", List("rules", id, "trace", "start")) =>
        // optional body {"strategy": "always"|"head", "limit": N}
        // (reference rest.go:905: head sampling vs capture-everything)
        val j = if (body.trim.isEmpty) JNothing else JsonMethods.parse(body)
        val strategy = (j \ "strategy") match {
          case JString(s) => s.toLowerCase; case _ => "always"
        }
        val headLimit = (j \ "limit") match {
          case JInt(n) => n.toInt; case JLong(n) => n.toInt; case _ => 10
        }
        if (strategy != "always" && strategy != "head")
          return err(400, s"unknown trace strategy '$strategy' (want always|head)")
        engine.traceStart(id, strategy, headLimit)
        ok(s"""{"id":"$id","trace":"enabled","strategy":"$strategy"}""")
      case ("POST", List("rules", id, "trace", "stop")) =>
        engine.traceStop(id); ok(s"""{"id":"$id","trace":"disabled"}""")
      case ("GET", List("trace", "rule", rid)) =>
        // reference getTraceIDByRuleID honors ?limit=N (newest first)
        val limit = query.get("limit").flatMap(_.toIntOption).getOrElse(0)
        ok(JsonMethods.compact(JArray(
          engine.tracer.traceIds(rid, limit).map(i => JString(i): JValue).toList)))
      case ("GET", List("trace", tid)) =>
        engine.tracer.traceJson(tid) match {
          case Some(j) => ok(j)
          case None => err(404, s"trace $tid is not found")
        }
      // remote-collector configuration (reference rest.go:249 POST
      // /tracer): graft has no OpenTelemetry exporter wired, so the
      // config is validated + stored for an exporter to read — the
      // endpoint exists, accepts the reference's body, and reads back
      case ("POST", List("tracer")) =>
        JsonMethods.parse(body) match {
          case o: JObject => tracerConfig = JsonMethods.compact(o); ok(tracerConfig)
          case _ => err(400, "tracer config must be a JSON object")
        }
      case ("GET", List("tracer")) => ok(tracerConfig)

      // ---- /metadata/* (reference internal/server/meta_init.go:47-67:
      // the manager-UI discovery surface) — graft's own registries
      case ("GET", List("metadata", "functions")) =>
        ok(Metadata.namesJson(Metadata.functionNames))
      case ("GET", List("metadata", "operators")) =>
        ok(Metadata.namesJson(Metadata.operators))
      case ("GET", List("metadata", "sources")) =>
        ok(Metadata.listJson(Metadata.sources))
      case ("GET", List("metadata", "sinks")) =>
        ok(Metadata.listJson(Metadata.sinks))
      case ("GET", List("metadata", "connections")) =>
        ok(Metadata.listJson(Metadata.connections))
      case ("GET", List("metadata", "sources", "yaml", name)) =>
        if (Metadata.sources.exists(_.name == name)) ok(confStore.document(s"sources/$name"))
        else err(404, s"source $name is not found")
      case ("GET", List("metadata", "sinks", "yaml", name)) =>
        if (Metadata.sinks.exists(_.name == name)) ok(confStore.document(s"sinks/$name"))
        else err(404, s"sink $name is not found")
      case ("GET", List("metadata", "connections", "yaml", name)) =>
        if (Metadata.connections.exists(_.name == name)) ok(confStore.document(s"connections/$name"))
        else err(404, s"connection $name is not found")
      case ("GET", List("metadata", "sources", name)) =>
        Metadata.detailJson(Metadata.sources, name)
          .map(ok).getOrElse(err(404, s"source $name is not found"))
      case ("GET", List("metadata", "sinks", name)) =>
        Metadata.detailJson(Metadata.sinks, name, Metadata.commonSinkProperties)
          .map(ok).getOrElse(err(404, s"sink $name is not found"))
      case ("GET", List("metadata", "connections", name)) =>
        Metadata.detailJson(Metadata.connections, name)
          .map(ok).getOrElse(err(404, s"connection $name is not found"))
      case ("PUT", List("metadata", kind @ ("sources" | "sinks" | "connections"),
          name, "confKeys", confKey)) =>
        val known = kind match {
          case "sources" => Metadata.sources.exists(_.name == name)
          case "sinks" => Metadata.sinks.exists(_.name == name)
          case _ => Metadata.connections.exists(_.name == name)
        }
        if (!known) return err(404, s"${kind.dropRight(1)} $name is not found")
        JsonMethods.parse(body) match {
          case o: JObject =>
            confStore.put(s"$kind/$name", confKey, JsonMethods.compact(o))
            ok(s"""{"confKey":${JsonMethods.compact(JString(confKey))}}""")
          case _ => err(400, "conf group must be a JSON object")
        }
      case ("DELETE", List("metadata", kind @ ("sources" | "sinks" | "connections"),
          name, "confKeys", confKey)) =>
        if (confStore.delete(s"$kind/$name", confKey))
          ok(s"""{"deleted":${JsonMethods.compact(JString(confKey))}}""")
        else err(404, s"confKey $confKey is not found")
      case ("POST", List("rules", id, "restart")) =>
        // reference restartRule: stop if running, then start
        try engine.stop(id) catch { case _: IllegalStateException => () }
        engine.start(id); ok(s"""{"id":"$id","status":"restarted"}""")
      case ("GET", List("rules", "status", "all")) =>
        val per = engine.list.map { id =>
          val st = engine.status(id)
          s"""${JsonMethods.compact(JString(id))}:{""" +
            s""""state":${JsonMethods.compact(JString(st.state.toString))},""" +
            s""""batches":${st.batchesProcessed},"rows":${st.rowsProcessed}}"""
        }
        ok(per.mkString("{", ",", "}"))
      case ("POST", List("rules", "validate")) =>
        // parse + plan without registering (reference validateRule)
        val j = JsonMethods.parse(body)
        (j \ "sql") match {
          case JString(sql) =>
            engine.compileSql(sql) // throws on unknown stream / bad SQL
            ok("""{"valid":true}""")
          case _ => err(400, "rule needs sql")
        }
      // rule tags (reference internal/server/rule_tag.go): PUT
      // replaces, PATCH merges, DELETE removes; match + bulk ops
      // select rules carrying EVERY requested tag (IsTagsMatch)
      case (m @ ("PUT" | "PATCH" | "DELETE"), List("rules", id, "tags")) =>
        val req = (JsonMethods.parse(if (body.isEmpty) "{}" else body) \ "tags") match {
          case JArray(ts) => ts.collect { case JString(t) => t }
          case _ => Nil
        }
        val cur = engine.ruleDef(id).tags
        val next = m match {
          case "PUT" => req
          case "PATCH" => cur ++ req.filterNot(cur.contains)
          case _ => cur.filterNot(req.contains)
        }
        engine.setTags(id, next)
        // keep the stored rule JSON (export source) in sync
        Option(ruleJson.get(id)).foreach { js =>
          val updated = JsonMethods.parse(js) match {
            case JObject(fs) => JObject(fs.filterNot(_._1 == "tags") :+
              JField("tags", JArray(next.toList.map(JString(_)))))
            case other => other
          }
          ruleJson.put(id, JsonMethods.compact(JsonMethods.render(updated)))
        }
        ok(s"""{"id":"$id","tags":${next.map(t => JsonMethods.compact(JString(t))).mkString("[", ",", "]")}}""")
      case ("GET", List("rules", "tags", "match")) =>
        val req = (JsonMethods.parse(if (body.isEmpty) "{}" else body) \ "tags") match {
          case JArray(ts) => ts.collect { case JString(t) => t }
          case _ => Nil
        }
        val ids = engine.list.filter(id => engine.ruleDef(id).isTagsMatch(req))
        ok(s"""{"rules":${ids.map(i => JsonMethods.compact(JString(i))).mkString("[", ",", "]")}}""")
      case ("POST", List("rules", op @ ("bulkstart" | "bulkstop"))) =>
        val req = (JsonMethods.parse(if (body.isEmpty) "{}" else body) \ "tags") match {
          case JArray(ts) => ts.collect { case JString(t) => t }
          case _ => Nil
        }
        val results = engine.list.filter(id => engine.ruleDef(id).isTagsMatch(req))
          .map { id =>
            try {
              if (op == "bulkstart") engine.start(id) else engine.stop(id)
              s"""{"ruleId":${JsonMethods.compact(JString(id))},"success":true}"""
            } catch {
              case e: Exception =>
                s"""{"ruleId":${JsonMethods.compact(JString(id))},"success":false,""" +
                  s""""error":${JsonMethods.compact(JString(String.valueOf(e.getMessage)))}}"""
            }
          }
        ok(results.mkString("[", ",", "]"))
      case ("GET", List("rules", id, "topo")) =>
        // reference GET /rules/{name}/topo: node names + edge map. The
        // Spark plan is one fused operator per sink, so the topology is
        // source_<stream>* → op_1_sql → sink_<i>.
        val rule = engine.ruleDef(id)
        val sources = engine.referencedStreams(rule.sql).map("source_" + _)
        val sinks = rule.sinks.indices.map(i => s"sink_$i")
        val edges =
          sources.map(s => s"${JsonMethods.compact(JString(s))}:[\"op_1_sql\"]") :+
            s""""op_1_sql":${sinks.map(s => JsonMethods.compact(JString(s))).mkString("[", ",", "]")}"""
        ok(s"""{"sources":${sources.map(s => JsonMethods.compact(JString(s))).mkString("[", ",", "]")},""" +
          s""""edges":{${edges.mkString(",")}}}""")
      case ("DELETE", List("rules", id)) =>
        engine.delete(id); ruleJson.remove(id); ok("{}")

      case ("GET", List("data", "export")) =>
        import scala.jdk.CollectionConverters._
        val streams = JObject(streamDdl.asScala.toList.sortBy(_._1)
          .map { case (n, ddl) => JField(n, JString(ddl)) })
        val rules = JObject(ruleJson.asScala.toList.sortBy(_._1)
          .map { case (id, js) => JField(id, JsonMethods.parse(js)) })
        // scripts ride along like the reference's ruleset export
        // (internal/plugin/js/exporter.go)
        val scripts = JObject(graft.plugins.JsFunctions.list().toList
          .flatMap(id => graft.plugins.JsFunctions.get(id))
          .map(s => JField(s.id, JsonMethods.parse(RuleApi.jsScriptJson(s)))))
        ok(JsonMethods.compact(JsonMethods.render(
          JObject("streams" -> streams, "rules" -> rules, "scripts" -> scripts))))
      case ("POST", List("data", "import")) =>
        // Per-item apply with a collected error list (the reference's
        // import result shape): one bad stream/rule doesn't abort the
        // rest, and partial state is reported instead of hidden behind
        // an opaque failure status.
        val j = JsonMethods.parse(body)
        val errors = scala.collection.mutable.ListBuffer.empty[(String, String)]
        // the reference's ruleset documents split "tables" out of
        // "streams"; both are DDL maps and apply identically
        val ddlMaps = Seq("streams" -> (j \ "streams"), "tables" -> (j \ "tables"))
        val ns = ddlMaps.flatMap {
          case (kind, JObject(fs)) => fs.collect { case JField(n, JString(ddl)) =>
            try { engine.createStream(ddl); streamDdl.put(n, ddl); Some(n) }
            catch { case e: Exception =>
              errors += (s"$kind $n" -> String.valueOf(e.getMessage)); None }
          }.flatten
          case _ => Nil
        }
        val nr = (j \ "rules") match {
          case JObject(fs) => fs.flatMap { case JField(n, rj) =>
            try Some(createRule(JsonMethods.compact(JsonMethods.render(rj))))
            catch { case e: Exception =>
              errors += (s"rule $n" -> String.valueOf(e.getMessage)); None }
          }
          case _ => Nil
        }
        val nj = (j \ "scripts") match {
          case JObject(fs) => fs.flatMap { case JField(n, sj) =>
            try {
              // the map key IS the id (reference UpsertByJson)
              val withId = sj match {
                case o: JObject if (o \ "id") == JNothing =>
                  JObject(o.obj :+ JField("id", JString(n)))
                case o => o
              }
              val s = RuleApi.parseJsScript(JsonMethods.compact(JsonMethods.render(withId)))
              if (s.id != n)
                throw new IllegalArgumentException(
                  s"the script id ${s.id} does not match the key $n")
              graft.plugins.JsFunctions.upsert(engine.session, s)
              Some(n)
            } catch { case e: Exception =>
              errors += (s"script $n" -> String.valueOf(e.getMessage)); None }
          }
          case _ => Nil
        }
        val errJson = errors.toList.map { case (what, msg) =>
          s"""{"item":${JsonMethods.compact(JString(what))},""" +
            s""""error":${JsonMethods.compact(JString(msg))}}"""
        }.mkString("[", ",", "]")
        val result =
          s"""{"streams":${ns.size},"rules":${nr.size},"scripts":${nj.size},"errors":$errJson}"""
        lastImport = result // GET /data/import/status (import_export.go)
        ok(result)
      case ("GET", List("data", "import", "status")) => ok(lastImport)

      // reference rest.go:227-228 /ruleset routes: the streams+rules
      // document under the reference's older route names (both POST)
      case ("POST", List("ruleset", "export")) => handle("GET", "/data/export")
      case ("POST", List("ruleset", "import")) => handle("POST", "/data/import", body)

      // Async task surface (reference async_rest.go + internal/pkg/
      // async): data import as a background task with the reference's
      // status lifecycle register → running → finish | error | cancel.
      case ("POST", List("async", "data", "import")) =>
        val taskId = s"dataImport-${System.currentTimeMillis() / 1000}-" +
          s"${RuleApi.taskSeq.incrementAndGet()}"
        val task = new RuleApi.AsyncTask(taskId)
        RuleApi.asyncTasks.put(taskId, task)
        val importBody = body
        val t = new Thread(() => {
          task.transition("running")
          try {
            val (code, resp) = handle("POST", "/data/import", importBody)
            if (task.status != "cancel") {
              if (code == 200) task.finish(resp)
              else task.fail(resp)
            }
          } catch {
            case e: Exception =>
              if (task.status != "cancel") task.fail(String.valueOf(e.getMessage))
          }
        }, taskId)
        t.setDaemon(true)
        t.start()
        ok(s"""{"id":"$taskId"}""")
      case ("GET", List("async", "task", id)) =>
        Option(RuleApi.asyncTasks.get(id)) match {
          case Some(t) => ok(t.json)
          case None => err(404, s"task $id not found")
        }
      case ("POST", List("async", "task", id, "cancel")) =>
        Option(RuleApi.asyncTasks.get(id)) match {
          case Some(t) if t.status == "register" || t.status == "running" =>
            t.transition("cancel")
            ok(s"""{"message":"cancel success"}""")
          case Some(t) => err(400, s"task $id is ${t.status}, cannot cancel")
          case None => err(404, s"task $id not found")
        }
      case ("POST", List("schemas")) =>
        val j = JsonMethods.parse(body)
        (j \ "name", j \ "fields") match {
          case (JString(n), JString(f)) =>
            SchemaRegistry.register(n, f)
            ok(s"""{"name":${JsonMethods.compact(JString(n))}}""")
          case _ => err(400, "body needs {\"name\": ..., \"fields\": \"a BIGINT, ...\"}")
        }
      case ("GET", List("schemas")) =>
        ok(SchemaRegistry.list.map("\"" + _ + "\"").mkString("[", ",", "]"))
      case ("GET", List("schemas", name)) =>
        SchemaRegistry.get(name) match {
          case Some(s) => ok(JsonMethods.compact(JString(s.toDDL)))
          case None => err(404, s"schema $name not found")
        }
      case ("DELETE", List("schemas", name)) =>
        SchemaRegistry.drop(name); ok("{}")

      // named connections (reference /connections + pkg/connection):
      // CRUD over the registry; GET per-id runs a LIVE transport ping
      case ("POST", List("connections")) =>
        val j = JsonMethods.parse(body)
        ((j \ "id"), (j \ "typ")) match {
          case (JString(id), JString(typ)) =>
            val props = (j \ "props") match {
              case JObject(ps) => ps.collect { case JField(k, JString(v)) => k -> v }.toMap
              case _ => Map.empty[String, String]
            }
            Connections.register(Connections.Conn(id, typ, props))
            (201, s"""{"id":${JsonMethods.compact(JString(id))}}""")
          case _ => err(400, "body needs {\"id\": ..., \"typ\": ..., \"props\": {...}}")
        }
      case ("GET", List("connections")) =>
        ok(Connections.list.map(c =>
          s"""{"id":${JsonMethods.compact(JString(c.id))},""" +
            s""""typ":${JsonMethods.compact(JString(c.typ))}}""").mkString("[", ",", "]"))
      case ("GET", List("connections", id)) =>
        Connections.get(id) match {
          case Some(c) =>
            val (status, errMsg) = Connections.ping(id) match {
              case Right(s) => (s, "")
              case Left(e) => ("disconnected", e)
            }
            ok(s"""{"id":${JsonMethods.compact(JString(c.id))},""" +
              s""""typ":${JsonMethods.compact(JString(c.typ))},""" +
              s""""status":${JsonMethods.compact(JString(status))},""" +
              s""""err":${JsonMethods.compact(JString(errMsg))}}""")
          case None => err(404, s"connection $id not found")
        }
      case ("DELETE", List("connections", id)) =>
        Connections.drop(id); ok("{}")

      // rule trial run (reference internal/trial + /ruletest): compile
      // the posted rule against the live catalog and return a bounded
      // sample of its output — the reference streams results over a
      // websocket session; the bounded-batch form returns them inline
      case ("POST", List("ruletest")) =>
        val j = JsonMethods.parse(body)
        ((j \ "sql"), (j \ "graph")) match {
          case (JString(sql), _) =>
            (j \ "id") match {
              case JString(id) =>
                // named trial (reference internal/trial): register (and
                // stop any previous run), sample proves the compile;
                // start/feed via POST /ruletest/{id}/start + GET /test/{id}
                val sample = trials.create(id, sql, j \ "mockSource")
                ok(s"""{"id":${JsonMethods.compact(JString(id))},""" +
                  s""""sample":${sample.mkString("[", ",", "]")}}""")
              case _ =>
                val df = engine.compileSql(sql)
                val n = (j \ "sampleSize") match { case JInt(x) => x.toInt; case _ => 10 }
                val rows = df.toJSON.take(n.max(1).min(100))
                ok(rows.mkString("[", ",", "]"))
            }
          case (_, g: JObject) =>
            val compiled = GraphRule.compile(engine.session, engine.catalog,
              JsonMethods.compact(g))
            val rows = compiled.head.df.toJSON.take(10)
            ok(rows.mkString("[", ",", "]"))
          case _ => err(400, "body needs a \"sql\" string or a \"graph\" object")
        }

      case ("POST", List("ruletest", id, "start")) =>
        trials.start(id); ok(s"""{"id":"$id","status":"started"}""")
      case ("DELETE", List("ruletest", id)) =>
        trials.stop(id); ok("{}")

      // external function services (reference internal/service REST
      // executor + its /services management endpoints)
      case ("POST", List("services")) =>
        val j = JsonMethods.parse(body)
        (j \ "name", j \ "addr") match {
          case (JString(n), JString(addr)) =>
            val fns = (j \ "functions") match {
              case JArray(xs) => xs.collect {
                case JString(fn) => Services.FunctionDef(fn)
                case o: JObject =>
                  val fn = (o \ "name") match {
                    case JString(x) => x
                    case _ => throw new IllegalArgumentException("function needs a name")
                  }
                  Services.FunctionDef(fn,
                    returnType = (o \ "returnType") match { case JString(t) => t; case _ => "string" },
                    uri = (o \ "uri") match { case JString(u) => Some(u); case _ => None },
                    method = (o \ "method") match { case JString(m) => m; case _ => "POST" })
              }
              case _ => Nil
            }
            if (fns.isEmpty) err(400, "service needs a non-empty functions array")
            else {
              val headers = (j \ "headers") match {
                case JObject(hs) => hs.collect { case JField(k, JString(v)) => k -> v }.toMap
                case _ => Map.empty[String, String]
              }
              val protocol = (j \ "protocol") match {
                case JString(p) => p
                case _ => "rest"
              }
              Services.register(engine.session,
                Services.ServiceDef(n, addr, fns, headers, protocol))
              ok(s"""{"name":${JsonMethods.compact(JString(n))}}""")
            }
          case _ => err(400, "body needs {\"name\": ..., \"addr\": ..., \"functions\": [...]}")
        }
      case ("GET", List("services")) =>
        ok(Services.list.map("\"" + _ + "\"").mkString("[", ",", "]"))
      case ("GET", List("services", name)) =>
        Services.get(name) match {
          case Some(s) => ok(
            s"""{"name":${JsonMethods.compact(JString(s.name))},""" +
              s""""addr":${JsonMethods.compact(JString(s.addr))},""" +
              s""""functions":${s.functions.map(f => JsonMethods.compact(JString(f.name))).mkString("[", ",", "]")}}""")
          case None => err(404, s"service $name not found")
        }
      case ("DELETE", List("services", name)) =>
        Services.drop(name); ok("{}")

      // portable plugins (reference internal/server plugin endpoints
      // over internal/plugin/portable): register a worker process whose
      // functions become SQL functions
      case ("POST", List("plugins", "portables")) =>
        import graft.plugins.PortablePlugins
        val j = JsonMethods.parse(body)
        (j \ "name") match {
          case JString(n) =>
            val exe = (j \ "executable") match {
              case JArray(xs) => xs.collect { case JString(s) => s }
              case _ => Nil
            }
            val fns = (j \ "functions") match {
              case JArray(xs) => xs.collect {
                case o: JObject => PortablePlugins.PortableFunction(
                  (o \ "name") match { case JString(s) => s; case _ => "" },
                  (o \ "returnType") match { case JString(s) => s; case _ => "string" })
              }
              case _ => Nil
            }
            PortablePlugins.register(engine.session,
              PortablePlugins.PluginMeta(n, exe, fns))
            ok(s"""{"name":"$n","status":"running"}""")
          case _ => err(400, "plugin needs a name")
        }
      case ("GET", List("plugins", "portables")) =>
        import graft.plugins.PortablePlugins
        ok(PortablePlugins.list.map(n =>
          s"""{"name":${JsonMethods.compact(JString(n))},"status":"${PortablePlugins.status(n)}"}""")
          .mkString("[", ",", "]"))
      case ("DELETE", List("plugins", "portables", name)) =>
        graft.plugins.PortablePlugins.stop(name); ok("{}")

      // Config file uploads (reference rest.go fileUploadHandler,
      // /config/uploads): give certs/schemas/seed files a managed home
      // that source/sink path props can reference. JSON form only
      // ({name, content | file-URL}); multipart is a browser-upload
      // nicety the reference also accepts.
      case ("POST", List("config", "uploads")) =>
        val j = JsonMethods.parse(body)
        val name = (j \ "name") match {
          case JString(s) if s.nonEmpty => s
          case _ => return err(400, "invalid body: name is required")
        }
        if (name.contains("..") || name.startsWith("/"))
          return err(400, s"invalid file name $name")
        val bytes: Array[Byte] = ((j \ "content"), (j \ "file")) match {
          case (JString(c), _) => c.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          case (_, JString(url)) =>
            // reference getFile: fetch the source URL server-side.
            // http(s) only — file:/jar: would read arbitrary LOCAL
            // files into the uploads dir through the management API
            val scheme = java.net.URI.create(url).getScheme
            if (scheme != "http" && scheme != "https")
              return err(400, s"unsupported upload source scheme '$scheme' (http/https only)")
            val conn = java.net.URI.create(url).toURL.openConnection()
            conn.setConnectTimeout(5000); conn.setReadTimeout(10000)
            try conn.getInputStream.readAllBytes()
            finally conn match {
              case h: java.net.HttpURLConnection => h.disconnect()
              case _ => ()
            }
          case _ => return err(400, "invalid body: content or FilePath is required")
        }
        val target = java.nio.file.Paths.get(RuleApi.uploadDir).resolve(name).normalize()
        if (!target.startsWith(java.nio.file.Paths.get(RuleApi.uploadDir)))
          return err(400, s"invalid file name $name")
        java.nio.file.Files.createDirectories(target.getParent)
        java.nio.file.Files.write(target, bytes)
        (201, s"""{"file":${JsonMethods.compact(JString(target.toString))}}""")
      case ("GET", List("config", "uploads")) =>
        val root = java.nio.file.Paths.get(RuleApi.uploadDir)
        val files =
          if (!java.nio.file.Files.isDirectory(root)) Seq.empty[String]
          else {
            val s = java.nio.file.Files.walk(root)
            try {
              import scala.jdk.CollectionConverters._
              s.iterator().asScala
                .filter(java.nio.file.Files.isRegularFile(_))
                .map(_.toAbsolutePath.toString).toSeq.sorted
            } finally s.close()
          }
        ok(files.map(p => JsonMethods.compact(JString(p))).mkString("[", ",", "]"))
      case ("DELETE", "config" :: "uploads" :: rest) if rest.nonEmpty =>
        val name = rest.mkString("/") // nested upload names keep their path
        if (name.contains("..") || name.startsWith("/"))
          return err(400, s"invalid file name $name")
        val f = java.nio.file.Paths.get(RuleApi.uploadDir).resolve(name).normalize()
        // uploads are files; a directory (empty or not) is not a
        // deletable upload — 404, never a raw DirectoryNotEmpty 400
        if (!java.nio.file.Files.isRegularFile(f)) err(404, s"file $name not found")
        else if (java.nio.file.Files.deleteIfExists(f)) ok("{}")
        else err(404, s"file $name not found")

      // JavaScript script functions (reference script_init.go:46-47,
      // internal/plugin/js): paste a JS function, call it from SQL
      case ("GET", List("udf", "javascript")) =>
        ok(graft.plugins.JsFunctions.list()
          .map(n => JsonMethods.compact(JString(n))).mkString("[", ",", "]"))
      case ("POST", List("udf", "javascript")) =>
        val s = RuleApi.parseJsScript(body)
        graft.plugins.JsFunctions.create(engine.session, s)
        (201, s"""{"message":"javascript function ${s.id} is created"}""")
      case ("GET", List("udf", "javascript", id)) =>
        graft.plugins.JsFunctions.get(id) match {
          case Some(s) => ok(RuleApi.jsScriptJson(s))
          case None => err(404, "not found")
        }
      case ("PUT", List("udf", "javascript", id)) =>
        val s = RuleApi.parseJsScript(body)
        if (s.id != id) return err(400, s"the script id ${s.id} does not match the key $id")
        graft.plugins.JsFunctions.upsert(engine.session, s)
        ok(s"""{"message":"javascript function $id is updated"}""")
      case ("DELETE", List("udf", "javascript", id)) =>
        if (graft.plugins.JsFunctions.delete(engine.session, id))
          ok(s"""{"message":"javascript function $id is deleted"}""")
        else err(404, "not found")

      // batched API calls (reference rest.go batchRequestHandler):
      // [{method,path,body}] → [{code,response}] routed through this
      // same handler
      case ("POST", List("batch", "req")) =>
        val reqs = JsonMethods.parse(body) match {
          case JArray(xs) => xs
          case _ => return err(400, "body must be an array of {method,path,body}")
        }
        val results = reqs.map { r =>
          val m = (r \ "method") match { case JString(s) => s; case _ => "GET" }
          val p = (r \ "path") match { case JString(s) => s; case _ => "/" }
          val b = (r \ "body") match { case JString(s) => s; case _ => "" }
          val (code, resp) = handle(m, p, b)
          s"""{"code":$code,"response":${JsonMethods.compact(JString(resp))}}"""
        }
        ok(results.mkString("[", ",", "]"))

      case ("GET", List("metrics")) =>
        // ids and Failed messages are user-supplied strings — escape
        // them, don't interpolate raw
        val per = engine.list.map { id =>
          val st = engine.status(id)
          s"""${JsonMethods.compact(JString(id))}:{""" +
            s""""state":${JsonMethods.compact(JString(st.state.toString))},""" +
            s""""batches":${st.batchesProcessed},"rows":${st.rowsProcessed}}"""
        }
        ok(per.mkString("{", ",", "}"))

      case ("GET", List("metrics", "prometheus")) =>
        // Prometheus text exposition of the same counters (reference
        // internal/server/prome_init.go:24-35 serves promhttp on
        // /metrics; graft's /metrics is the JSON document, so the
        // scrape target is /metrics/prometheus — point the scraper's
        // metrics_path here). Series names follow the reference's
        // kuiper_* convention (internal/topo/node/metric/
        // prometheus.go:54-63) so existing dashboards keep working;
        // per-operator instances collapse to the rule's totals because
        // Catalyst owns the intra-rule topology.
        ok(RuleApi.prometheusText(engine))

      case _ => err(404, s"no route $method $path")
    }
  } catch {
    case e: NoSuchElementException => err(404, String.valueOf(e.getMessage))
    case e: IllegalStateException => err(409, String.valueOf(e.getMessage))
    case e: Exception => err(400, String.valueOf(e.getMessage))
  }
}

object RuleApi {
  /** Prometheus text exposition (format 0.0.4) of every rule's
    * counters. Names/labels mirror the reference's series (internal/
    * topo/node/metric/prometheus.go:54-63: `kuiper_<prefix>_<counter>`
    * with labels rule/type/op/op_instance) so dashboards written for
    * the reference scrape graft unchanged; the per-operator instances
    * the reference exports collapse to rule totals here (only series
    * the engine genuinely measures are exported — input records, not
    * a fabricated sink-out count), plus a graft-specific batches
    * counter and state gauge (1 running/scheduled, 0 created/stopped,
    * -1 failed), and each streaming rule's last micro-batch phase times.
    */
  private[rules] def prometheusText(engine: RuleEngine): String = {
    // label values: escape backslash, double-quote, newline (exposition
    // format spec) — rule ids are user-supplied strings
    def esc(s: String): String =
      s.replace("\\", "\\\\").replace("\"", "\\\"").replace("\n", "\\n")
    val statuses = engine.list.map(engine.status)
    val sb = new StringBuilder
    def series(name: String, help: String, kind: String, opType: String,
               value: RuleStatus => Long): Unit = {
      sb.append(s"# HELP $name $help\n# TYPE $name $kind\n")
      statuses.foreach { st =>
        sb.append(s"""$name{rule="${esc(st.id)}",type="$opType",op="$opType",op_instance="0"} ${value(st)}""")
        sb.append('\n')
      }
    }
    series("kuiper_source_records_in_total",
      "Total number of messages received by the rule's source", "counter",
      "source", _.rowsProcessed)
    // no kuiper_sink_records_out_total: the engine tracks INPUT rows
    // per rule; exporting that under a sink-output name would show
    // records_out == records_in on filtering/aggregating rules —
    // a wrong number is worse than an absent series
    series("graft_rule_batches_total",
      "Micro-batches (or batch runs) the rule has processed", "counter",
      "rule", _.batchesProcessed)
    series("graft_rule_state",
      "Rule lifecycle state: 1 running/scheduled, 0 created/stopped, -1 failed",
      "gauge", "rule", st => st.state match {
        case RuleState.Running | RuleState.Scheduled => 1L
        case RuleState.Failed(_) => -1L
        case _ => 0L
      })
    // streaming rules only, and only the phases Spark reported for the
    // last micro-batch (a batch without data has no addBatch or commits)
    val phases = engine.list.map(id => id -> engine.lastBatchPhases(id))
    sb.append("# HELP graft_rule_batch_phase_ms Phase time of the rule's last micro-batch, " +
      "from StreamingQueryProgress.durationMs (slowest of the rule's queries, one per output frame)\n")
    sb.append("# TYPE graft_rule_batch_phase_ms gauge\n")
    for ((id, ms) <- phases; phase <- BatchPhases; v <- ms.get(phase))
      sb.append(s"""graft_rule_batch_phase_ms{rule="${esc(id)}",phase="$phase"} $v\n""")
    sb.toString
  }

  /** Micro-batch phases `graft_rule_batch_phase_ms` exports. */
  private val BatchPhases =
    Seq("latestOffset", "addBatch", "walCommit", "commitOffsets", "triggerExecution")

  /** Async task registry (reference internal/pkg/async AsyncManager:
    * id → status/message with created/updated stamps).
    */
  private[rules] val taskSeq = new java.util.concurrent.atomic.AtomicLong()
  private[rules] val asyncTasks =
    new java.util.concurrent.ConcurrentHashMap[String, AsyncTask]()

  private[rules] final class AsyncTask(val id: String) {
    private val created = System.currentTimeMillis()
    @volatile private var updated = created
    @volatile var status: String = "register"
    @volatile private var message: String = ""
    def transition(s: String): Unit = synchronized {
      // cancel wins races against the worker's finish/fail
      if (status != "cancel") { status = s; updated = System.currentTimeMillis() }
    }
    def finish(result: String): Unit = synchronized {
      if (status != "cancel") { status = "finish"; message = result
        updated = System.currentTimeMillis() }
    }
    def fail(err: String): Unit = synchronized {
      if (status != "cancel") { status = "error"; message = err
        updated = System.currentTimeMillis() }
    }
    def json: String = {
      import org.json4s._
      import org.json4s.jackson.JsonMethods
      JsonMethods.compact(JsonMethods.render(JObject(
        "id" -> JString(id), "status" -> JString(status),
        "message" -> JString(message),
        "createdTimestamp" -> JLong(created),
        "updatedTimestamp" -> JLong(updated))))
    }
  }

  /** Managed upload directory (reference uploadDir etc/uploads). */
  private[rules] val uploadDir: String =
    sys.env.getOrElse("GRAFT_UPLOAD_DIR",
      s"${System.getProperty("java.io.tmpdir")}/graft-uploads")

  /** {"id","description","script","isAgg"[,"resultType"]} — the
    * reference's js.Script shape (manager.go:36-41) plus the typed
    * engine's resultType extension.
    */
  private[rules] def parseJsScript(body: String): graft.plugins.JsScript = {
    val j = JsonMethods.parse(body)
    val id = (j \ "id") match {
      case JString(s) if s.nonEmpty => s
      case _ => throw new IllegalArgumentException("script needs an id")
    }
    graft.plugins.JsScript(
      id = id,
      description = (j \ "description") match { case JString(s) => s; case _ => "" },
      script = (j \ "script") match { case JString(s) => s; case _ => "" },
      isAgg = (j \ "isAgg") match { case JBool(b) => b; case _ => false },
      resultType = (j \ "resultType") match { case JString(s) => s; case _ => "string" })
  }

  private[rules] def jsScriptJson(s: graft.plugins.JsScript): String =
    JsonMethods.compact(JsonMethods.render(JObject(
      "id" -> JString(s.id),
      "description" -> JString(s.description),
      "script" -> JString(s.script),
      "isAgg" -> JBool(s.isAgg),
      "resultType" -> JString(s.resultType))))

  /** {"memory": {"topic": "t"}} / {"file": {...}} / {"mqtt": {...}} … —
    * the reference's action objects.
    */
  private def parseAction(j: JValue): Sink = j match {
    case JObject(List(JField(kind, props))) =>
      // numeric/boolean props render to strings — SinkFactory and the
      // sinks parse them back (maxCount, batchSize, …). Nested objects
      // (oauth, headers) flatten to dotted keys AND keep the compact
      // JSON under the base key, so both access styles work.
      def flatten(prefix: String, fs: List[JField]): Seq[(String, String)] =
        fs.flatMap {
          case JField(k, JString(v)) => Seq(s"$prefix$k" -> v)
          case JField(k, JInt(v)) => Seq(s"$prefix$k" -> v.toString)
          case JField(k, JDouble(v)) => Seq(s"$prefix$k" -> v.toString)
          case JField(k, JBool(v)) => Seq(s"$prefix$k" -> v.toString)
          case JField(k, o @ JObject(inner)) =>
            (s"$prefix$k" -> JsonMethods.compact(JsonMethods.render(o))) +:
              flatten(s"$prefix$k.", inner)
          case _ => Nil
        }
      val opts = props match {
        case JObject(fs) => flatten("", fs).toMap
        case _ => Map.empty[String, String]
      }
      SinkFactory.forKind(kind, opts)
    case _ => throw new IllegalArgumentException(s"bad action: $j")
  }
}
