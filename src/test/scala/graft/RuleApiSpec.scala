package graft

import graft.rules._
import graft.sources.MemoryHub
import java.nio.file.Files
import org.json4s._

/** REST-shaped management surface (SURVEY §2.8): the reference's
  * stream/rule endpoints as a transport-free handler.
  */
class RuleApiSpec extends SparkSuite {

  private def api = new RuleApi(new RuleEngine(spark))

  test("stream CRUD via the endpoint surface") {
    val a = api
    val (c1, b1) = a.handle("POST", "/streams",
      s"""{"sql": "CREATE STREAM api_s (x BIGINT) WITH (TYPE=\\"file\\", FORMAT=\\"json\\", DATASOURCE=\\"/tmp/none\\")"}""")
    assert(c1 == 200 && b1.contains("api_s"))
    val (c2, b2) = a.handle("GET", "/streams")
    assert(c2 == 200 && b2.contains("\"api_s\""))
    val (c3, b3) = a.handle("GET", "/streams/api_s")
    assert(c3 == 200 && b3.contains("\"isTable\":false"))
    assert(a.handle("GET", "/streams/nope")._1 == 404)
    assert(a.handle("DELETE", "/streams/api_s")._1 == 200)
    val (_, b4) = a.handle("GET", "/streams")
    assert(!b4.contains("api_s"))
  }

  test("config uploads: create from content and URL, list, delete, traversal refused") {
    val a = api
    // content form
    val (c1, b1) = a.handle("POST", "/config/uploads",
      """{"name":"certs/test.pem","content":"-----BEGIN CERT-----"}""")
    assert(c1 == 201 && b1.contains("test.pem"), b1)
    // the returned path exists with the exact content
    val path = org.json4s.jackson.JsonMethods.parse(b1) \ "file" match {
      case JString(p) => p
      case _ => fail(s"no file in $b1")
    }
    assert(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(path))) == "-----BEGIN CERT-----")
    // URL form fetches server-side (reference getFile)
    val srv = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    srv.createContext("/", ex => {
      val b = "fetched-bytes".getBytes
      ex.sendResponseHeaders(200, b.length)
      ex.getResponseBody.write(b)
      ex.close()
    })
    srv.start()
    try {
      val (c2, _) = a.handle("POST", "/config/uploads",
        s"""{"name":"fetched.txt","file":"http://127.0.0.1:${srv.getAddress.getPort}/x"}""")
      assert(c2 == 201)
    } finally srv.stop(0)
    // list shows both; delete removes; repeat delete 404s
    val (c3, b3) = a.handle("GET", "/config/uploads")
    assert(c3 == 200 && b3.contains("test.pem") && b3.contains("fetched.txt"))
    assert(a.handle("DELETE", "/config/uploads/fetched.txt")._1 == 200)
    assert(a.handle("DELETE", "/config/uploads/fetched.txt")._1 == 404)
    assert(a.handle("DELETE", "/config/uploads/certs/test.pem")._1 == 200)
    // traversal and missing-field refusals
    assert(a.handle("POST", "/config/uploads",
      """{"name":"../evil","content":"x"}""")._1 == 400)
    assert(a.handle("POST", "/config/uploads", """{"name":"x"}""")._1 == 400)
    assert(a.handle("POST", "/config/uploads", """{"content":"x"}""")._1 == 400)
    // non-http(s) fetch schemes refused (file:// would read local files)
    val (cf, bf) = a.handle("POST", "/config/uploads",
      """{"name":"loot","file":"file:///etc/hostname"}""")
    assert(cf == 400 && bf.contains("scheme"), bf)
    // deleting a directory (the now-empty certs/) is a 404, not a raw error
    assert(a.handle("DELETE", "/config/uploads/certs")._1 == 404)
  }

  test("ruleset routes alias the data document; tables map imports as DDL") {
    val dir = tempDir("graft_rs_in")
    Files.write(dir.resolve("a.json"), """{"x":1}""".getBytes)
    val a = api
    val doc =
      s"""{"streams":{"rs_s":"CREATE STREAM rs_s (x BIGINT) WITH (TYPE=\\"file\\", FORMAT=\\"json\\", DATASOURCE=\\"$dir\\")"},
         |"tables":{"rs_t":"CREATE TABLE rs_t (x BIGINT) WITH (TYPE=\\"file\\", FORMAT=\\"json\\", DATASOURCE=\\"$dir\\")"},
         |"rules":{}}""".stripMargin.replace("\n", "")
    val (ci, bi) = a.handle("POST", "/ruleset/import", doc)
    assert(ci == 200 && bi.contains("\"streams\":2"), bi) // streams + tables applied
    assert(a.handle("GET", "/streams")._2.contains("rs_s"))
    assert(a.handle("GET", "/tables")._2.contains("rs_t"))
    val (ce, be) = a.handle("POST", "/ruleset/export")
    assert(ce == 200 && be.contains("rs_s") && be.contains("rs_t"))
  }

  test("async data import: task lifecycle register/running -> finish, cancel rules") {
    val dir = tempDir("graft_async_in")
    Files.write(dir.resolve("a.json"), """{"x":9}""".getBytes)
    val a = api
    val doc =
      s"""{"streams":{"async_in":"CREATE STREAM async_in (x BIGINT) WITH (TYPE=\\"file\\", FORMAT=\\"json\\", DATASOURCE=\\"$dir\\")"},"rules":{}}"""
    val (c1, b1) = a.handle("POST", "/async/data/import", doc)
    assert(c1 == 200 && b1.contains("dataImport-"), b1)
    val id = org.json4s.jackson.JsonMethods.parse(b1) \ "id" match {
      case JString(s) => s
      case _ => fail(s"no id in $b1")
    }
    // poll to completion (the import itself is fast)
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    def status(): String = {
      val (_, sj) = a.handle("GET", s"/async/task/$id")
      org.json4s.jackson.JsonMethods.parse(sj) \ "status" match {
        case JString(s) => s
        case _ => "?"
      }
    }
    while (status() != "finish" && System.nanoTime() < deadline) Thread.sleep(50)
    assert(status() == "finish")
    val (_, done) = a.handle("GET", s"/async/task/$id")
    assert(done.contains("\"streams\\\":1") || done.contains("streams"), done)
    assert(a.handle("GET", "/streams")._2.contains("async_in"))
    // finished tasks can't cancel; unknown tasks 404
    assert(a.handle("POST", s"/async/task/$id/cancel")._1 == 400)
    assert(a.handle("GET", "/async/task/nope")._1 == 404)
    assert(a.handle("POST", "/async/task/nope/cancel")._1 == 404)
  }

  test("HTTP server serves the management API end-to-end") {
    val eng = new RuleEngine(spark)
    val srv = RuleServer.start(eng, port = 0) // ephemeral port
    try {
      def http(method: String, path: String, body: String = ""): (Int, String) = {
        val url = java.net.URI.create(s"http://127.0.0.1:${srv.port}$path").toURL
        val c = url.openConnection().asInstanceOf[java.net.HttpURLConnection]
        c.setRequestMethod(method)
        if (body.nonEmpty) { c.setDoOutput(true); c.getOutputStream.write(body.getBytes) }
        val code = c.getResponseCode
        val is = if (code < 400) c.getInputStream else c.getErrorStream
        (code, new String(is.readAllBytes()))
      }
      val (c1, _) = http("POST", "/streams",
        s"""{"sql": "CREATE STREAM http_s (x BIGINT) WITH (TYPE=\\"file\\", FORMAT=\\"json\\", DATASOURCE=\\"/tmp/none\\")"}""")
      assert(c1 == 200)
      val (c2, b2) = http("GET", "/streams")
      assert(c2 == 200 && b2.contains("http_s"))
      assert(http("GET", "/streams/ghost")._1 == 404)
      val (c3, b3) = http("GET", "/rules")
      assert(c3 == 200 && b3 == "[]")
    } finally srv.stop()
  }

  test("rule lifecycle via the endpoint surface") {
    val dir = tempDir("graft_api_in")
    Files.write(dir.resolve("a.json"), """{"x":1}
{"x":5}""".getBytes)
    val a = api
    a.handle("POST", "/streams",
      s"""{"sql": "CREATE STREAM api_in (x BIGINT) WITH (TYPE=\\"file\\", FORMAT=\\"json\\", DATASOURCE=\\"$dir\\")"}""")
    MemoryHub.drop("api_out")
    val (cc, _) = a.handle("POST", "/rules",
      """{"id":"r_api", "sql":"SELECT x * 2 AS y FROM api_in WHERE x > 2",
        | "actions":[{"memory":{"topic":"api_out"}}]}""".stripMargin)
    assert(cc == 200)
    // duplicate create → 409
    assert(a.handle("POST", "/rules", """{"id":"r_api","sql":"SELECT 1"}""")._1 == 409)
    assert(a.handle("POST", "/rules/r_api/start")._1 == 200)
    assert(MemoryHub.frame(spark, "api_out").first().getLong(0) == 10)
    val (cs, bs) = a.handle("GET", "/rules/r_api/status")
    assert(cs == 200 && bs.contains("\"rows\":1"))
    val (ce, be) = a.handle("GET", "/rules/r_api/explain")
    assert(ce == 200 && be.contains("Physical Plan"))
    assert(a.handle("DELETE", "/rules/r_api")._1 == 200)
    assert(a.handle("GET", "/rules/r_api/status")._1 == 404)
    assert(a.handle("PATCH", "/rules")._1 == 404)
  }

  test("rule tracing: start -> run -> retrieve spans -> stop (batch rule)") {
    val dir = tempDir("graft_trc_in")
    Files.write(dir.resolve("a.json"), """{"x":1}
{"x":5}""".getBytes)
    val eng = new RuleEngine(spark)
    val a = new RuleApi(eng)
    a.handle("POST", "/streams",
      s"""{"sql": "CREATE STREAM trc_in (x BIGINT) WITH (TYPE=\\"file\\", FORMAT=\\"json\\", DATASOURCE=\\"$dir\\")"}""")
    MemoryHub.drop("trc_out")
    a.handle("POST", "/rules",
      """{"id":"r_trc","sql":"SELECT x FROM trc_in","actions":[{"memory":{"topic":"trc_out"}}]}""")
    // tracing an unknown rule 404s; starting capture snapshots the plan
    assert(a.handle("POST", "/rules/nope/trace/start")._1 == 404)
    assert(a.handle("POST", "/rules/r_trc/trace/start")._1 == 200)
    assert(a.handle("POST", "/rules/r_trc/start")._1 == 200)
    val (cl, idsJson) = a.handle("GET", "/trace/rule/r_trc")
    assert(cl == 200)
    val ids = org.json4s.jackson.JsonMethods.parse(idsJson) match {
      case org.json4s.JArray(xs) => xs.collect { case org.json4s.JString(s) => s }
      case other => fail(s"expected id array, got $other")
    }
    // newest first: the batch run, then the plan snapshot from start
    assert(ids.size == 2, s"expected plan + batch_run traces, got $ids")
    val (ct, runJson) = a.handle("GET", s"/trace/${ids.head}")
    assert(ct == 200 && runJson.contains("\"batch_run\"") &&
      runJson.contains("sink:MemorySink"), s"run trace: $runJson")
    val planJson = a.handle("GET", s"/trace/${ids.last}")._2
    assert(planJson.contains("\"plan\"") && planJson.contains("Physical Plan"))
    assert(a.handle("GET", "/trace/zzz-1")._1 == 404)
    // ?limit=1 truncates from the newest end (the reference's param)
    assert(org.json4s.jackson.JsonMethods.parse(
      a.handle("GET", "/trace/rule/r_trc?limit=1")._2).children.size == 1)
    // stop halts capture: another run records nothing new
    assert(a.handle("POST", "/rules/r_trc/trace/stop")._1 == 200)
    a.handle("POST", "/rules/r_trc/start")
    assert(org.json4s.jackson.JsonMethods.parse(
      a.handle("GET", "/trace/rule/r_trc")._2).children.size == 2)
  }

  test("tracer ring evicts oldest traces at capacity; ids stay retrievable newest-first") {
    val t = new graft.rules.RuleTracer(capacity = 3)
    t.enable("r")
    val ids = (1 to 5).map(i =>
      t.record("r", graft.rules.TraceSpan(s"span$i", i.toLong, 1L)).get)
    // ring holds only the newest 3; evicted ids 404
    assert(t.trace(ids(0)).isEmpty && t.trace(ids(1)).isEmpty)
    assert(t.traceIds("r") == ids.drop(2).reverse)
    assert(t.trace(ids(4)).get.root.name == "span5")
    // limit truncates from the newest end (the reference's ?limit=)
    assert(t.traceIds("r", limit = 1) == Seq(ids(4)))
  }

  test("streaming rule tracing captures micro-batch progress spans") {
    val dir = tempDir("graft_strc_in")
    val ckpt = tempDir("graft_strc_ck")
    Files.write(dir.resolve("a.json"), """{"x":7}""".getBytes)
    val eng = new RuleEngine(spark)
    val a = new RuleApi(eng)
    a.handle("POST", "/streams",
      s"""{"sql": "CREATE STREAM strc_in (x BIGINT) WITH (TYPE=\\"file\\", FORMAT=\\"json\\", DATASOURCE=\\"$dir\\")"}""")
    MemoryHub.drop("strc_out")
    a.handle("POST", "/rules",
      s"""{"id":"r_strc","sql":"SELECT x FROM strc_in","streaming":true,
         | "options":{"checkpoint":"$ckpt"},
         | "actions":[{"memory":{"topic":"strc_out"}}]}""".stripMargin)
    assert(a.handle("POST", "/rules/r_strc/trace/start")._1 == 200)
    assert(a.handle("POST", "/rules/r_strc/start")._1 == 200)
    try {
      eng.processAllAvailable("r_strc")
      // progress events deliver async on the listener bus — poll
      val deadline = System.currentTimeMillis() + 15000
      var ids = eng.tracer.traceIds("r_strc")
      while (ids.size < 2 && System.currentTimeMillis() < deadline) {
        Thread.sleep(100); ids = eng.tracer.traceIds("r_strc")
      }
      assert(ids.size >= 2, s"expected plan + microbatch traces, got $ids")
      val mb = eng.tracer.trace(ids.head).get
      assert(mb.root.name == "microbatch" &&
        mb.root.attributes("query").startsWith("r_strc_"))
      assert(mb.root.children.exists(_.name == "phase:addBatch"),
        s"missing phase spans: ${mb.root.children.map(_.name)}")
      assert(mb.root.children.exists(_.name == "source"))
    } finally a.handle("POST", "/rules/r_strc/stop")
  }

  test("export captures definitions; import restores them on a fresh engine") {
    val dir = tempDir("graft_exp_in")
    Files.write(dir.resolve("a.json"), """{"x":4}""".getBytes)
    graft.plugins.JsFunctions.clear() // scripts from other suites would skew the export doc
    val a = api
    a.handle("POST", "/streams",
      s"""{"sql": "CREATE STREAM exp_in (x BIGINT) WITH (TYPE=\\"file\\", FORMAT=\\"json\\", DATASOURCE=\\"$dir\\")"}""")
    a.handle("POST", "/rules",
      """{"id":"r_exp","sql":"SELECT x FROM exp_in","actions":[{"memory":{"topic":"exp_out"}}]}""")
    val (ce, doc) = a.handle("GET", "/data/export")
    assert(ce == 200 && doc.contains("exp_in") && doc.contains("r_exp"))
    // a fresh engine, seeded only from the exported document
    val b = new RuleApi(new RuleEngine(spark))
    val (ci, bi) = b.handle("POST", "/data/import", doc)
    assert(ci == 200 && bi == """{"streams":1,"rules":1,"scripts":0,"errors":[]}""")
    assert(b.handle("GET", "/streams")._2.contains("exp_in"))
    MemoryHub.drop("exp_out")
    assert(b.handle("POST", "/rules/r_exp/start")._1 == 200)
    assert(MemoryHub.frame(spark, "exp_out").first().getLong(0) == 4)
    // the round trip is idempotent: re-export equals the import source
    assert(b.handle("GET", "/data/export")._2 == doc)
    // import status replays the last import result
    assert(b.handle("GET", "/data/import/status")._2 == bi)
  }

  test("import applies per item and reports failures instead of aborting") {
    val dir = tempDir("graft_imp_part")
    Files.write(dir.resolve("a.json"), """{"x":7}""".getBytes)
    val a = new RuleApi(new RuleEngine(spark))
    // middle rule collides with an existing id → fails at create; the
    // good stream and the good rule around it must still land, and the
    // response must name the failed item
    val doc =
      s"""{"streams":{"imp_ok":"CREATE STREAM imp_ok (x BIGINT) WITH (TYPE=\\"file\\", FORMAT=\\"json\\", DATASOURCE=\\"$dir\\")"},
         |"rules":{
         |  "r_dup":{"id":"r_dup","sql":"SELECT x FROM imp_ok","actions":[{"memory":{"topic":"imp_t"}}]},
         |  "r_dup2":{"id":"r_dup","sql":"SELECT x FROM imp_ok","actions":[{"memory":{"topic":"imp_t"}}]},
         |  "r_ok2":{"id":"r_ok2","sql":"SELECT x FROM imp_ok","actions":[{"memory":{"topic":"imp_t"}}]}
         |}}""".stripMargin
    val (c, body) = a.handle("POST", "/data/import", doc)
    assert(c == 200, body)
    assert(body.contains(""""streams":1""") && body.contains(""""rules":2"""), body)
    assert(body.contains("r_dup2"), body)
    assert(a.handle("GET", "/rules")._2.contains("r_ok2"))
  }

  test("schema registry: DDL resolves SCHEMAID, REST round-trips") {
    val a = api
    assert(a.handle("POST", "/schemas",
      """{"name":"sensor_v1","fields":"device STRING, temp BIGINT"}""")._1 == 200)
    assert(a.handle("GET", "/schemas")._2.contains("sensor_v1"))
    assert(a.handle("GET", "/schemas/sensor_v1")._2.contains("device"))
    // stream DDL with an empty field list + SCHEMAID pulls the schema
    val d = Catalog.parseDdl(
      """CREATE STREAM sreg () WITH (TYPE="mqtt", DATASOURCE="sr/in", SCHEMAID="sensor_v1")""")
    assert(d.source.asInstanceOf[graft.sources.ConnectorSource]
      .schema.fieldNames.toSeq == Seq("device", "temp"))
    intercept[IllegalArgumentException](Catalog.parseDdl(
      """CREATE STREAM bad () WITH (TYPE="mqtt", DATASOURCE="x", SCHEMAID="nope")"""))
    assert(a.handle("DELETE", "/schemas/sensor_v1")._1 == 200)
    assert(a.handle("GET", "/schemas/sensor_v1")._1 == 404)
  }

  test("rule options JSON maps to restart/schedule/lookup/trigger settings") {
    val a = api
    val now = System.currentTimeMillis()
    val (c, _) = a.handle("POST", "/rules",
      s"""{"id":"r_opt","sql":"SELECT 1 AS one","streaming":true,
         | "actions":[{"nop":{}}],
         | "options":{
         |   "restartStrategy":{"attempts":3,"delay":200,"multiplier":1.5,"maxDelay":5000},
         |   "schedule":[{"begin":${now + 3600000},"end":${now + 7200000}}],
         |   "trigger":250, "checkpoint":"/tmp/graft_opt_ck", "liveLookup":false}}""".stripMargin)
    assert(c == 200)
    // the rule is parked as Scheduled: its window is an hour away
    a.handle("POST", "/rules/r_opt/start")
    val (_, st) = a.handle("GET", "/rules/r_opt/status")
    assert(st.contains("Scheduled"), st)
    a.handle("POST", "/rules/r_opt/stop")
  }

  test("metrics endpoint aggregates every rule's counters") {
    val dir = tempDir("graft_met_in")
    Files.write(dir.resolve("a.json"), """{"x":1}
{"x":2}""".getBytes)
    val a = api
    a.handle("POST", "/streams",
      s"""{"sql": "CREATE STREAM met_in (x BIGINT) WITH (TYPE=\\"file\\", FORMAT=\\"json\\", DATASOURCE=\\"$dir\\")"}""")
    a.handle("POST", "/rules",
      """{"id":"r_met","sql":"SELECT x FROM met_in","actions":[{"nop":{}}]}""")
    a.handle("POST", "/rules/r_met/start")
    val (cm, bm) = a.handle("GET", "/metrics")
    assert(cm == 200 && bm.contains("\"r_met\"") && bm.contains("\"rows\":2"),
      s"unexpected metrics: $bm")
  }

  test("prometheus metrics: scrape-parseable text exposition with per-rule series") {
    val dir = tempDir("graft_prom_in")
    Files.write(dir.resolve("a.json"), """{"x":1}
{"x":2}
{"x":3}""".getBytes)
    val a = api
    a.handle("POST", "/streams",
      s"""{"sql": "CREATE STREAM prom_in (x BIGINT) WITH (TYPE=\\"file\\", FORMAT=\\"json\\", DATASOURCE=\\"$dir\\")"}""")
    a.handle("POST", "/rules",
      """{"id":"r_prom","sql":"SELECT x FROM prom_in","actions":[{"nop":{}}]}""")
    a.handle("POST", "/rules/r_prom/start")
    val (code, body) = a.handle("GET", "/metrics/prometheus")
    assert(code == 200)
    // every non-comment line must parse as name{labels} value — the
    // 0.0.4 exposition contract a prometheus scraper enforces
    val lines = body.split('\n').filter(_.nonEmpty)
    val sample = """^[a-zA-Z_:][a-zA-Z0-9_:]*\{[^}]*\} -?\d+$""".r
    lines.filterNot(_.startsWith("#")).foreach { l =>
      assert(sample.matches(l), s"unparseable sample line: $l")
    }
    // HELP/TYPE metadata precedes each family
    assert(lines.contains("# TYPE kuiper_source_records_in_total counter"))
    assert(lines.contains("# TYPE graft_rule_state gauge"))
    // the engine measures input rows only — a fabricated sink-out
    // series equal to records_in would mislead reference dashboards
    assert(!body.contains("kuiper_sink_records_out_total"))
    // the rule's own series carry its counters (3 input rows, running)
    assert(lines.contains(
      """kuiper_source_records_in_total{rule="r_prom",type="source",op="source",op_instance="0"} 3"""),
      s"missing per-rule records series in:\n$body")
    // one-shot batch rule finished → Stopped → gauge 0
    assert(lines.contains("""graft_rule_state{rule="r_prom",type="rule",op="rule",op_instance="0"} 0"""),
      s"missing state gauge in:\n$body")
  }

  test("prometheus metrics: a streaming rule's last micro-batch phase times") {
    val dir = tempDir("graft_phase_in")
    val ckpt = tempDir("graft_phase_ck")
    Files.write(dir.resolve("a.json"), """{"x":1}""".getBytes)
    val eng = new RuleEngine(spark)
    val a = new RuleApi(eng)
    a.handle("POST", "/streams",
      s"""{"sql": "CREATE STREAM phase_in (x BIGINT) WITH (TYPE=\\"file\\", FORMAT=\\"json\\", DATASOURCE=\\"$dir\\")"}""")
    a.handle("POST", "/rules",
      s"""{"id":"r_phase","sql":"SELECT x FROM phase_in","streaming":true,
         | "actions":[{"nop":{}}],"options":{"checkpoint":"$ckpt"}}""".stripMargin)
    a.handle("POST", "/rules",
      """{"id":"r_phase_batch","sql":"SELECT x FROM phase_in","actions":[{"nop":{}}]}""")
    a.handle("POST", "/rules/r_phase/start")
    a.handle("POST", "/rules/r_phase_batch/start")
    try {
      eng.processAllAvailable("r_phase")
      val (code, body) = a.handle("GET", "/metrics/prometheus")
      assert(code == 200)
      val lines = body.split('\n').toSeq
      assert(lines.contains("# TYPE graft_rule_batch_phase_ms gauge"))
      val phase = """graft_rule_batch_phase_ms\{rule="([^"]+)",phase="(\w+)"\} (\d+)""".r
      val got = lines.collect { case phase(rule, p, ms) => (rule, p) -> ms.toLong }.toMap
      // the data batch reports every phase; the batch rule runs none
      assert(got.keySet == Seq("latestOffset", "addBatch", "walCommit", "commitOffsets",
        "triggerExecution").map("r_phase" -> _).toSet, body)
      val last = spark.streams.active.find(_.name == "r_phase_0").get.lastProgress
      assert(got(("r_phase", "triggerExecution")) == last.durationMs.get("triggerExecution"))
      assert(got(("r_phase", "addBatch")) <= got(("r_phase", "triggerExecution")))
    } finally a.handle("POST", "/rules/r_phase/stop")
  }

  test("cron-scheduled rule JSON (reference cron + duration options) is accepted") {
    val dir = tempDir("graft_cron_in")
    Files.write(dir.resolve("a.json"), """{"x":3}""".getBytes)
    val a = api
    a.handle("POST", "/streams",
      s"""{"sql": "CREATE STREAM cron_in (x BIGINT) WITH (TYPE=\\"file\\", FORMAT=\\"json\\", DATASOURCE=\\"$dir\\")"}""")
    // next Jan-1 fire is in the future → rule parks as Scheduled
    val (cc, _) = a.handle("POST", "/rules",
      """{"id":"r_cron","sql":"SELECT x FROM cron_in",
        | "actions":[{"nop":{}}],
        | "options":{"cron":"0 0 1 1 *","duration":"10m"}}""".stripMargin)
    assert(cc == 200)
    a.handle("POST", "/rules/r_cron/start")
    val (_, st) = a.handle("GET", "/rules/r_cron/status")
    assert(st.contains("Scheduled"), st)
    a.handle("POST", "/rules/r_cron/stop")
    // malformed cron / missing duration are rejected at create time
    assert(a.handle("POST", "/rules",
      """{"id":"r_badcron","sql":"SELECT x FROM cron_in",
        | "options":{"cron":"not a cron","duration":"10m"}}""".stripMargin)._1 == 400)
    assert(a.handle("POST", "/rules",
      """{"id":"r_nodur","sql":"SELECT x FROM cron_in",
        | "options":{"cron":"* * * * *"}}""".stripMargin)._1 == 400)
  }

  test("named connections: CRUD, live ping, and DDL prop layering") {
    val a = api
    val broker = graft.net.MqttBroker.start()
    try {
      val (c1, _) = a.handle("POST", "/connections",
        s"""{"id":"edge_mqtt","typ":"mqtt","props":{"server":"${broker.address}","format":"json"}}""")
      assert(c1 == 201)
      assert(a.handle("GET", "/connections")._2.contains("edge_mqtt"))
      // live ping against the real broker
      val (c2, st) = a.handle("GET", "/connections/edge_mqtt")
      assert(c2 == 200 && st.contains("\"status\":\"connected\""), st)
      // a stream referencing the connection inherits its server prop
      val sd = Catalog.parseDdl(
        """CREATE STREAM conn_s (x BIGINT) WITH (TYPE="mqtt", DATASOURCE="t/1",
          | CONNECTION="edge_mqtt")""".stripMargin)
      val cs = sd.source.asInstanceOf[graft.sources.ConnectorSource]
      assert(cs.options.get("server").contains(broker.address))
      // stream props win over connection props
      val sd2 = Catalog.parseDdl(
        s"""CREATE STREAM conn_s2 (x BIGINT) WITH (TYPE="mqtt", DATASOURCE="t/2",
           | CONNECTION="edge_mqtt", SERVER="tcp://example.invalid:1883")""".stripMargin)
      assert(sd2.source.asInstanceOf[graft.sources.ConnectorSource]
        .options.get("server").contains("tcp://example.invalid:1883"))
    } finally broker.close()
    // dead endpoint pings disconnected with the failure carried
    a.handle("POST", "/connections",
      """{"id":"dead_conn","typ":"mqtt","props":{"server":"tcp://127.0.0.1:1"}}""")
    val (c3, st3) = a.handle("GET", "/connections/dead_conn")
    assert(c3 == 200 && st3.contains("\"status\":\"disconnected\""), st3)
    assert(a.handle("DELETE", "/connections/dead_conn")._1 == 200)
    assert(a.handle("GET", "/connections/dead_conn")._1 == 404)
  }

  test("sink factory: REST rule actions reach the sql sink end-to-end") {
    val dburl = "jdbc:derby:memory:graftapi;create=true"
    graft.sources.SqlBridges.withConnection(dburl, Map.empty) { c =>
      val st = c.createStatement()
      try st.execute("DROP TABLE api_out") catch { case _: java.sql.SQLException => () }
      st.execute("CREATE TABLE api_out (K VARCHAR(8), V INT)")
    }
    val a = api
    MemoryHub.publish("sqlsink_in",
      spark.createDataFrame(Seq(("a", 1), ("b", 2))).toDF("K", "V"))
    a.handle("POST", "/streams",
      """{"sql": "CREATE TABLE sqlsink_s (K STRING, V INT) WITH (TYPE=\"memory\", DATASOURCE=\"sqlsink_in\")"}""")
    val (cc, body) = a.handle("POST", "/rules",
      s"""{"id":"r_sqlsink","sql":"SELECT K, V FROM sqlsink_s",
         | "actions":[{"sql":{"dburl":"$dburl","table":"api_out"}}]}""".stripMargin)
    assert(cc == 200, body)
    a.handle("POST", "/rules/r_sqlsink/start")
    val rows = graft.sources.SqlBridges.withConnection(dburl, Map.empty) { c =>
      val rs = c.createStatement().executeQuery("SELECT K, V FROM api_out ORDER BY K")
      Iterator.continually(rs).takeWhile(_.next()).map(r => r.getString(1) -> r.getInt(2)).toList
    }
    assert(rows == List("a" -> 1, "b" -> 2))
  }

  test("unknown CONNECTION id fails the DDL instead of running against the stub") {
    val e = intercept[IllegalArgumentException] {
      Catalog.parseDdl(
        """CREATE STREAM bad_conn (x BIGINT) WITH (TYPE="mqtt", DATASOURCE="t",
          | CONNECTION="no_such_conn")""".stripMargin)
    }
    assert(e.getMessage.contains("no_such_conn"))
  }

  test("ruletest compiles and samples a rule without registering it") {
    val a = api
    MemoryHub.publish("trial_in",
      spark.createDataFrame(Seq(("a", 2L), ("b", 30L))).toDF("k", "v"))
    a.handle("POST", "/streams",
      """{"sql": "CREATE TABLE trial_s (k STRING, v BIGINT) WITH (TYPE=\"memory\", DATASOURCE=\"trial_in\")"}""")
    val (c1, out) = a.handle("POST", "/ruletest",
      """{"id":"t1","sql":"SELECT k, v * 2 AS w FROM trial_s WHERE v > 10"}""")
    assert(c1 == 200, out)
    assert(out.contains("\"k\":\"b\"") && out.contains("\"w\":60"))
    assert(!out.contains("\"a\"")) // filtered row absent
    // nothing was registered: the rules list stays empty of t1
    assert(!a.handle("GET", "/rules")._2.contains("t1"))
    // bad SQL surfaces as a 400, not a crash
    assert(a.handle("POST", "/ruletest", """{"sql":"SELECT FROM nowhere"}""")._1 == 400)
  }

  test("named trial rule: mockSource data, start, SSE feed at /test/{id}") {
    val eng = new RuleEngine(spark)
    val srv = RuleServer.start(eng, port = 0)
    try {
      val a = new RuleApi(eng) // transport-free registration path
      MemoryHub.publish("trial2_in",
        spark.createDataFrame(Seq(("real", 1L))).toDF("k", "v"))
      eng.createStream(
        """CREATE TABLE trial2_s (k STRING, v BIGINT) WITH (TYPE="memory", DATASOURCE="trial2_in")""")
      def http(method: String, path: String, body: String = ""): (Int, String) = {
        val url = java.net.URI.create(s"http://127.0.0.1:${srv.port}$path").toURL
        val c = url.openConnection().asInstanceOf[java.net.HttpURLConnection]
        c.setRequestMethod(method)
        if (body.nonEmpty) { c.setDoOutput(true); c.getOutputStream.write(body.getBytes) }
        val code = c.getResponseCode
        val is = if (code < 400) c.getInputStream else c.getErrorStream
        (code, new String(is.readAllBytes()))
      }
      // register over HTTP with mocked stream data (mock wins over real)
      val (cc, bc) = http("POST", "/ruletest",
        """{"id":"tr1","sql":"SELECT k, v * 2 AS w FROM trial2_s WHERE v > 5",
          | "mockSource":{"trial2_s":{"data":[{"k":"m1","v":10},{"k":"m2","v":3}]}}}""".stripMargin)
      assert(cc == 200, bc)
      assert(bc.contains("\"id\":\"tr1\"") && bc.contains("\"w\":20") && !bc.contains("real"))
      // start, then read the SSE feed to completion
      assert(http("POST", "/ruletest/tr1/start")._1 == 200)
      val (cs, feed) = http("GET", "/test/tr1")
      assert(cs == 200, feed)
      assert(feed.contains("data: ") && feed.contains("\"w\":20") && !feed.contains("m2"))
      // delete removes the trial; its feed 404s
      assert(http("DELETE", "/ruletest/tr1")._1 == 200)
      assert(http("GET", "/test/tr1")._1 == 404)
      assert(http("POST", "/ruletest/ghost/start")._1 == 404)
      assert(a.handle("GET", "/rules")._2 == "[]") // trials never become rules
    } finally srv.stop()
  }

  test("rule tags: PUT/PATCH/DELETE, match, and tag-scoped bulk ops") {
    val a = api
    MemoryHub.publish("tag_in",
      spark.createDataFrame(Seq((7L, "x"))).toDF("v", "k"))
    a.handle("POST", "/streams",
      """{"sql": "CREATE TABLE tag_s (v BIGINT, k STRING) WITH (TYPE=\"memory\", DATASOURCE=\"tag_in\")"}""")
    a.handle("POST", "/rules",
      """{"id":"r_t1","sql":"SELECT v FROM tag_s","tags":["prod","etl"],
        | "actions":[{"memory":{"topic":"tag_o1"}}]}""".stripMargin)
    a.handle("POST", "/rules",
      """{"id":"r_t2","sql":"SELECT v FROM tag_s","tags":["dev"],
        | "actions":[{"memory":{"topic":"tag_o2"}}]}""".stripMargin)
    // subset match: rules carrying EVERY requested tag
    val (cm, bm) = a.handle("GET", "/rules/tags/match", """{"tags":["prod"]}""")
    assert(cm == 200 && bm.contains("r_t1") && !bm.contains("r_t2"))
    // empty request matches all
    val (_, bAll) = a.handle("GET", "/rules/tags/match", """{"tags":[]}""")
    assert(bAll.contains("r_t1") && bAll.contains("r_t2"))
    // PATCH merges, DELETE removes, PUT replaces
    a.handle("PATCH", "/rules/r_t2/tags", """{"tags":["prod","dev"]}""")
    assert(a.handle("GET", "/rules/tags/match", """{"tags":["prod","dev"]}""")._2.contains("r_t2"))
    a.handle("DELETE", "/rules/r_t2/tags", """{"tags":["dev"]}""")
    assert(!a.handle("GET", "/rules/tags/match", """{"tags":["dev"]}""")._2.contains("r_t2"))
    val (_, bPut) = a.handle("PUT", "/rules/r_t1/tags", """{"tags":["archived"]}""")
    assert(bPut.contains("archived"))
    assert(!a.handle("GET", "/rules/tags/match", """{"tags":["prod"]}""")._2.contains("r_t1"))
    // tags survive into the export document
    assert(a.handle("GET", "/data/export")._2.contains("archived"))
    // bulk start by tag runs only the matching rule
    MemoryHub.drop("tag_o1"); MemoryHub.drop("tag_o2")
    val (cb, bb) = a.handle("POST", "/rules/bulkstart", """{"tags":["archived"]}""")
    assert(cb == 200 && bb.contains("\"r_t1\"") && bb.contains("\"success\":true")
      && !bb.contains("r_t2"))
    assert(MemoryHub.frame(spark, "tag_o1").first().getLong(0) == 7)
    val (cs, bs) = a.handle("POST", "/rules/bulkstop", """{"tags":[]}""")
    assert(cs == 200 && bs.contains("r_t1") && bs.contains("r_t2"))
    a.handle("DELETE", "/rules/r_t1"); a.handle("DELETE", "/rules/r_t2")
  }

  test("GET and PUT /rules/{id}: describe and update a rule in place") {
    val a = api
    MemoryHub.publish("upd_in",
      spark.createDataFrame(Seq((5L, "x"))).toDF("v", "k"))
    a.handle("POST", "/streams",
      """{"sql": "CREATE TABLE upd_s (v BIGINT, k STRING) WITH (TYPE=\"memory\", DATASOURCE=\"upd_in\")"}""")
    a.handle("POST", "/rules",
      """{"id":"r_upd","sql":"SELECT v FROM upd_s","actions":[{"memory":{"topic":"upd_o"}}]}""")
    // GET returns the posted definition verbatim
    val (cg, bg) = a.handle("GET", "/rules/r_upd")
    assert(cg == 200 && bg.contains("SELECT v FROM upd_s"))
    assert(a.handle("GET", "/rules/ghost")._1 == 404)
    // PUT replaces the SQL under the same id
    MemoryHub.drop("upd_o")
    val (cu, bu) = a.handle("PUT", "/rules/r_upd",
      """{"id":"r_upd","sql":"SELECT v * 10 AS w FROM upd_s","actions":[{"memory":{"topic":"upd_o"}}]}""")
    assert(cu == 200, bu)
    a.handle("POST", "/rules/r_upd/start")
    assert(MemoryHub.frame(spark, "upd_o").first().getLong(0) == 50)
    assert(a.handle("GET", "/rules/r_upd")._2.contains("v * 10"))
    // a broken PUT restores the previous definition
    assert(a.handle("PUT", "/rules/r_upd", """{"id":"r_upd"}""")._1 == 400)
    assert(a.handle("GET", "/rules/r_upd")._2.contains("v * 10"))
    // id mismatch between path and body is rejected
    assert(a.handle("PUT", "/rules/r_upd",
      """{"id":"other","sql":"SELECT v FROM upd_s"}""")._1 == 400)
    assert(a.handle("PUT", "/rules/ghost", """{"sql":"SELECT 1"}""")._1 == 404)
    a.handle("DELETE", "/rules/r_upd")
  }

  test("stream details, schema endpoints, and in-place DDL update") {
    val a = api
    a.handle("POST", "/streams",
      """{"sql": "CREATE STREAM det_s (x BIGINT, s STRING) WITH (TYPE=\"file\", FORMAT=\"json\", DATASOURCE=\"/tmp/none\")"}""")
    MemoryHub.publish("det_in", spark.createDataFrame(Seq((1L, "a"))).toDF("v", "k"))
    a.handle("POST", "/tables",
      """{"sql": "CREATE TABLE det_t (v BIGINT, k STRING) WITH (TYPE=\"memory\", DATASOURCE=\"det_in\")"}""")
    // details list name + source type, split by kind
    val (cd, bd) = a.handle("GET", "/streamdetails")
    assert(cd == 200 && bd.contains("det_s") && bd.contains("\"type\":\"file\"")
      && !bd.contains("det_t"))
    val (ct, bt) = a.handle("GET", "/tabledetails")
    assert(ct == 200 && bt.contains("det_t") && bt.contains("\"type\":\"memory\"")
      && !bt.contains("det_s"))
    // schema endpoint returns field → SQL type
    val (cs, bs) = a.handle("GET", "/streams/det_s/schema")
    assert(cs == 200 && bs.contains("\"x\":\"BIGINT\"") && bs.contains("\"s\":\"STRING\""))
    assert(a.handle("GET", "/tables/det_s/schema")._1 == 404) // wrong kind
    // PUT replaces the definition in place
    val (cu, bu) = a.handle("PUT", "/streams/det_s",
      """{"sql": "CREATE STREAM det_s (x BIGINT, s STRING, extra DOUBLE) WITH (TYPE=\"file\", FORMAT=\"json\", DATASOURCE=\"/tmp/none\")"}""")
    assert(cu == 200, bu)
    assert(a.handle("GET", "/streams/det_s/schema")._2.contains("\"extra\":\"DOUBLE\""))
    // name mismatch between path and DDL is rejected
    assert(a.handle("PUT", "/streams/det_s",
      """{"sql": "CREATE STREAM other_s (x BIGINT) WITH (TYPE=\"file\", FORMAT=\"json\", DATASOURCE=\"/tmp/none\")"}""")._1 == 400)
    a.handle("DELETE", "/streams/det_s"); a.handle("DELETE", "/tables/det_t")
  }

  test("configs: GET reflects PATCHed logLevel and timezone; bad values 400") {
    val a = api
    val tz0 = spark.conf.get("spark.sql.session.timeZone")
    try {
      val (c0, b0) = a.handle("GET", "/configs")
      assert(c0 == 200 && b0.contains("\"basic\""))
      val (c1, b1) = a.handle("PATCH", "/configs",
        """{"logLevel":"error","timezone":"Asia/Shanghai"}""")
      assert(c1 == 200, b1)
      assert(b1.contains("\"logLevel\":\"error\"") && b1.contains("Asia/Shanghai"))
      assert(spark.conf.get("spark.sql.session.timeZone") == "Asia/Shanghai")
      assert(a.handle("PATCH", "/configs", """{"logLevel":"nope"}""")._1 == 400)
      assert(a.handle("PATCH", "/configs", """{"timezone":"Mars/Olympus"}""")._1 == 400)
    } finally {
      spark.conf.set("spark.sql.session.timeZone", tz0)
      spark.sparkContext.setLogLevel("ERROR")
    }
  }

  test("batch/req routes multiple API calls through one request") {
    val a = api
    val body =
      """[{"method":"GET","path":"/ping"},
        |{"method":"POST","path":"/streams","body":"{\"sql\": \"CREATE STREAM b_s (x BIGINT) WITH (TYPE=\\\"file\\\", FORMAT=\\\"json\\\", DATASOURCE=\\\"/tmp/none\\\")\"}"},
        |{"method":"GET","path":"/streams"},
        |{"method":"GET","path":"/rules/ghost/status"}]""".stripMargin
    val (c, b) = a.handle("POST", "/batch/req", body)
    assert(c == 200, b)
    val arr = org.json4s.jackson.JsonMethods.parse(b).asInstanceOf[JArray].arr
    assert(arr.length == 4)
    assert((arr(0) \ "code") == JInt(200))
    assert((arr(1) \ "code") == JInt(200))
    assert((arr(2) \ "code") == JInt(200) &&
      (arr(2) \ "response").asInstanceOf[JString].s.contains("b_s"))
    assert((arr(3) \ "code") == JInt(404)) // per-item failure, batch still 200
    a.handle("DELETE", "/streams/b_s")
  }

  test("table endpoints are separate from stream endpoints") {
    val a = api
    MemoryHub.publish("tbl_in",
      spark.createDataFrame(Seq((1L, "x"))).toDF("id", "v"))
    assert(a.handle("POST", "/tables",
      """{"sql": "CREATE TABLE api_t (id BIGINT, v STRING) WITH (TYPE=\"memory\", DATASOURCE=\"tbl_in\")"}""")._1 == 200)
    // a CREATE STREAM posted to /tables is rejected and not registered
    val (cBad, _) = a.handle("POST", "/tables",
      """{"sql": "CREATE STREAM api_t2 (x BIGINT) WITH (TYPE=\"file\", FORMAT=\"json\", DATASOURCE=\"/tmp/none\")"}""")
    assert(cBad == 400)
    assert(!a.handle("GET", "/streams")._2.contains("api_t2"))
    // tables list has the table; streams list does NOT (and vice versa)
    a.handle("POST", "/streams",
      """{"sql": "CREATE STREAM api_s2 (x BIGINT) WITH (TYPE=\"file\", FORMAT=\"json\", DATASOURCE=\"/tmp/none\")"}""")
    assert(a.handle("GET", "/tables")._2.contains("api_t"))
    assert(!a.handle("GET", "/tables")._2.contains("api_s2"))
    assert(a.handle("GET", "/streams")._2.contains("api_s2"))
    assert(!a.handle("GET", "/streams")._2.contains("api_t"))
    val (cg, bg) = a.handle("GET", "/tables/api_t")
    assert(cg == 200 && bg.contains("\"isTable\":true"))
    assert(a.handle("GET", "/tables/api_s2")._1 == 404) // a stream is not a table
    assert(a.handle("DELETE", "/tables/api_t")._1 == 200)
    assert(!a.handle("GET", "/tables")._2.contains("api_t"))
  }

  test("ping, server info, validate, restart, status/all, topo") {
    val a = api
    assert(a.handle("GET", "/ping")._1 == 200)
    val (ci, info) = a.handle("GET", "/")
    assert(ci == 200 && info.contains("\"version\"") && info.contains("\"upTimeSeconds\""))

    MemoryHub.publish("val_in",
      spark.createDataFrame(Seq((5L, "x"))).toDF("v", "k"))
    a.handle("POST", "/streams",
      """{"sql": "CREATE TABLE val_s (v BIGINT, k STRING) WITH (TYPE=\"memory\", DATASOURCE=\"val_in\")"}""")
    // validate: good SQL 200 without registering; bad SQL 400
    assert(a.handle("POST", "/rules/validate",
      """{"id":"rv","sql":"SELECT v FROM val_s"}""")._2.contains("\"valid\":true"))
    assert(a.handle("GET", "/rules")._2 == "[]")
    assert(a.handle("POST", "/rules/validate",
      """{"id":"rv","sql":"SELECT v FROM ghost_stream"}""")._1 == 400)
    assert(a.handle("POST", "/rules/validate", """{"id":"rv"}""")._1 == 400)

    MemoryHub.drop("val_out")
    a.handle("POST", "/rules",
      """{"id":"r_all","sql":"SELECT v * 3 AS w FROM val_s","actions":[{"memory":{"topic":"val_out"}}]}""")
    a.handle("POST", "/rules/r_all/start")
    assert(MemoryHub.frame(spark, "val_out").first().getLong(0) == 15)
    // restart runs the batch again (stopped state is tolerated)
    MemoryHub.drop("val_out")
    assert(a.handle("POST", "/rules/r_all/restart")._1 == 200)
    assert(MemoryHub.frame(spark, "val_out").first().getLong(0) == 15)
    // status/all carries every rule keyed by id
    val (cs, sAll) = a.handle("GET", "/rules/status/all")
    assert(cs == 200 && sAll.contains("\"r_all\"") && sAll.contains("\"state\""))
    // topo names the referenced source, the fused op, and the sink
    val (ct, topo) = a.handle("GET", "/rules/r_all/topo")
    assert(ct == 200, topo)
    assert(topo.contains("\"source_val_s\"") && topo.contains("\"op_1_sql\"")
      && topo.contains("\"sink_0\""))
    assert(a.handle("GET", "/rules/ghost/topo")._1 == 404)
    a.handle("DELETE", "/rules/r_all")
  }

  test("/metadata/* serves the engine's own registries; unknown names 404") {
    val a = api
    // function inventory: the codegen builder table + special forms
    val (cf, fns) = a.handle("GET", "/metadata/functions")
    assert(cf == 200 && fns.contains("\"bitand\"") && fns.contains("\"keyword_tag\""))
    // graph-rule operator nodes
    val (co, ops) = a.handle("GET", "/metadata/operators")
    assert(co == 200 && ops.contains("\"window\"") && ops.contains("\"join\""))
    // source list + detail: lookup capability and DDL props advertised
    val (cs, srcs) = a.handle("GET", "/metadata/sources")
    assert(cs == 200 && srcs.contains("\"http_pull\"") && srcs.contains("\"nexmark\""))
    val (cd, sqlSrc) = a.handle("GET", "/metadata/sources/sql")
    assert(cd == 200 && sqlSrc.contains("\"lookup\":true")
      && sqlSrc.contains("\"dburl\"") && sqlSrc.contains("\"cachettl\""))
    assert(a.handle("GET", "/metadata/sources/ghost")._1 == 404)
    // sink list + detail: per-kind props plus the shared shaping props
    val (ck, sinks) = a.handle("GET", "/metadata/sinks")
    assert(ck == 200 && sinks.contains("\"influx2\"") && sinks.contains("\"rest\""))
    val (ce, mqttSink) = a.handle("GET", "/metadata/sinks/mqtt")
    assert(ce == 200 && mqttSink.contains("\"topic\"")
      && mqttSink.contains("\"sendSingle\"") && mqttSink.contains("\"omitIfEmpty\""))
    assert(a.handle("GET", "/metadata/sinks/ghost")._1 == 404)
    // connections
    val (cc, conns) = a.handle("GET", "/metadata/connections")
    assert(cc == 200 && conns.contains("\"kafka\""))
    assert(a.handle("GET", "/metadata/connections/mqtt")._2.contains("\"server\""))
    assert(a.handle("GET", "/metadata/connections/ghost")._1 == 404)
  }

  test("/metadata confKeys: PUT groups read back from the yaml document, DELETE removes") {
    val a = api
    // empty document for a known source; 404 for an unknown one
    assert(a.handle("GET", "/metadata/sources/yaml/mqtt")._2 == "{}")
    assert(a.handle("GET", "/metadata/sources/yaml/ghost")._1 == 404)
    // save two conf groups, read the combined document
    assert(a.handle("PUT", "/metadata/sources/mqtt/confKeys/broker1",
      """{"server":"tcp://b1:1883","qos":1}""")._1 == 200)
    assert(a.handle("PUT", "/metadata/sources/mqtt/confKeys/broker2",
      """{"server":"tcp://b2:1883"}""")._1 == 200)
    val doc = a.handle("GET", "/metadata/sources/yaml/mqtt")._2
    assert(doc.contains("\"broker1\"") && doc.contains("tcp://b2:1883"))
    // groups are per component type: the sink document is untouched
    assert(a.handle("GET", "/metadata/sinks/yaml/mqtt")._2 == "{}")
    // PUT on an unknown component 404s; non-object body 400s
    assert(a.handle("PUT", "/metadata/sources/ghost/confKeys/k", "{}")._1 == 404)
    assert(a.handle("PUT", "/metadata/sources/mqtt/confKeys/bad", "[1]")._1 == 400)
    // delete one group; the other survives; double delete 404s
    assert(a.handle("DELETE", "/metadata/sources/mqtt/confKeys/broker1")._1 == 200)
    val doc2 = a.handle("GET", "/metadata/sources/yaml/mqtt")._2
    assert(!doc2.contains("broker1") && doc2.contains("broker2"))
    assert(a.handle("DELETE", "/metadata/sources/mqtt/confKeys/broker1")._1 == 404)
  }

  test("trace strategy: head captures only the first N units; always is unlimited; POST /tracer stores config") {
    val a = api
    val dir = tempDir("graft_hstrat_in")
    Files.write(dir.resolve("a.json"), """{"v":1}""".getBytes)
    a.handle("POST", "/streams",
      s"""{"sql": "CREATE STREAM hstrat_s (v BIGINT) WITH (TYPE=\\"file\\", FORMAT=\\"json\\", DATASOURCE=\\"$dir\\")"}""")
    a.handle("POST", "/rules",
      """{"id":"r_hd","sql":"SELECT v FROM hstrat_s","actions":[{"nop":{}}]}""")
    // head strategy, limit 2: the plan snapshot consumes one slot, the
    // first batch run the second; later runs record nothing
    assert(a.handle("POST", "/rules/r_hd/trace/start",
      """{"strategy":"head","limit":2}""")._2.contains("\"strategy\":\"head\""))
    (1 to 3).foreach(_ => a.handle("POST", "/rules/r_hd/start"))
    val headIds = org.json4s.jackson.JsonMethods.parse(
      a.handle("GET", "/trace/rule/r_hd")._2).children.size
    assert(headIds == 2, s"head(2) must cap the capture at 2 traces, got $headIds")
    // restart tracing under always: every run records
    a.handle("POST", "/rules/r_hd/trace/stop")
    assert(a.handle("POST", "/rules/r_hd/trace/start")._2.contains("\"strategy\":\"always\""))
    (1 to 3).foreach(_ => a.handle("POST", "/rules/r_hd/start"))
    val alwaysIds = org.json4s.jackson.JsonMethods.parse(
      a.handle("GET", "/trace/rule/r_hd")._2).children.size
    assert(alwaysIds == 2 + 4, s"always must record plan + every run, got $alwaysIds")
    // bad strategy 400s
    assert(a.handle("POST", "/rules/r_hd/trace/start",
      """{"strategy":"tail"}""")._1 == 400)
    // collector config round-trips
    assert(a.handle("GET", "/tracer")._2 == "{}")
    val cfg = """{"serviceName":"graft","collectorUrl":"grpc://otel:4317"}"""
    assert(a.handle("POST", "/tracer", cfg)._1 == 200)
    assert(a.handle("GET", "/tracer")._2.contains("otel:4317"))
    assert(a.handle("POST", "/tracer", "[1,2]")._1 == 400)
    a.handle("DELETE", "/rules/r_hd")
  }
}
