package graft

import graft.rules._
import graft.sinks._
import graft.sources._
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Rules-engine lifecycle (SURVEY §2.8): DDL → catalog, rule create/
  * start/stop/status/explain, sink delivery — the reference's
  * create-rule REST flow (internal/server), minus HTTP.
  */
class RulesSpec extends SparkSuite {

  private def newEngine = new RuleEngine(spark)

  private def writeJson(dir: java.nio.file.Path, rows: Seq[String]): Unit =
    Files.write(dir.resolve("part-0.json"),
      rows.mkString("\n").getBytes("UTF-8"))

  test("DDL parses into catalog stream defs") {
    val eng = newEngine
    val d = eng.createStream(
      """CREATE STREAM demo (a BIGINT, b STRING, ts TIMESTAMP) WITH
        | (TYPE="file", FORMAT="json", DATASOURCE="/tmp/never-read",
        |  TIMESTAMP="ts", WATERMARK="10 seconds")""".stripMargin)
    assert(d.name == "demo" && !d.isTable)
    assert(d.timestampCol.contains("ts") && d.watermark.contains("10 seconds"))
    assert(d.source.asInstanceOf[FileSource].format == "json")
    val t = eng.createStream(
      """CREATE TABLE dim (k BIGINT, v STRING) WITH (TYPE="memory", DATASOURCE="dimtopic")""")
    assert(t.isTable && t.source == MemorySource("dimtopic"))
    assert(eng.catalog.list == Seq("demo", "dim"))
  }

  test("batch rule: file source -> SQL -> memory sink, full lifecycle") {
    val dir = tempDir("graft_rule_in")
    writeJson(dir, Seq(
      """{"device":"d1","temp":50}""",
      """{"device":"d1","temp":70}""",
      """{"device":"d2","temp":10}"""))
    val eng = newEngine
    eng.createStream(
      s"""CREATE STREAM sensor (device STRING, temp BIGINT) WITH
         | (TYPE="file", FORMAT="json", DATASOURCE="${dir.toString}")""".stripMargin)
    MemoryHub.drop("rule_out")
    eng.create(Rule("r1",
      "SELECT device, count(*) AS n, sum(temp) AS total FROM sensor GROUP BY device",
      Seq(MemorySink("rule_out"))))
    eng.start("r1")
    val out = MemoryHub.frame(spark, "rule_out").orderBy("device").collect()
    assert(out.length == 2)
    assert(out(0).getString(0) == "d1" && out(0).getLong(2) == 120)
    val st = eng.status("r1")
    assert(st.state == RuleState.Stopped && st.rowsProcessed == 2)
    // duplicate create rejected; delete then re-create works
    intercept[IllegalStateException](eng.create(Rule("r1", "SELECT 1", Nil)))
    eng.delete("r1")
    eng.create(Rule("r1", "SELECT 1 AS one", Seq(NopSink())))
    eng.start("r1")
  }

  test("hygiene rule: gopher gate + pii redaction + quality score inside rule SQL") {
    val dir = tempDir("graft_rule_hyg")
    val keepText = ("the quick brown fox jumps over the lazy dog while it waits " * 5).trim
    writeJson(dir, Seq(
      s"""{"doc":"good","body":"$keepText mail me at a.b@x.co"}""",
      """{"doc":"short","body":"too short to pass"}""",
      """{"doc":"junk","body":"### ### ### ### ### ### ### ### ### ###"}"""))
    val eng = newEngine
    eng.createStream(
      s"""CREATE STREAM docs (doc STRING, body STRING) WITH
         | (TYPE="file", FORMAT="json", DATASOURCE="${dir.toString}")""".stripMargin)
    MemoryHub.drop("hyg_out")
    eng.create(Rule("hyg",
      """SELECT doc, pii_redact(body) AS clean, quality_score(body) AS q,
        |  token_count(body) AS n FROM docs WHERE gopher_keep(body)""".stripMargin,
      Seq(MemorySink("hyg_out"))))
    eng.start("hyg")
    val out = MemoryHub.frame(spark, "hyg_out").collect()
    assert(out.length == 1, s"only the clean 60-word doc passes: ${out.mkString}")
    assert(out(0).getString(0) == "good")
    assert(out(0).getString(1).contains("<EMAIL>") &&
      !out(0).getString(1).contains("a.b@x.co"), "pii redacted in the rule")
    assert(out(0).getDouble(2) > 0.5)
  }

  test("sketch rule: hll distinct + topk sketch aggregates inside rule SQL") {
    val dir = tempDir("graft_rule_sketch")
    writeJson(dir, (1 to 60).map { i =>
      s"""{"shop":"s${i % 3}","user":"u${i % 7}","spend":${i * 2}}"""
    })
    val eng = newEngine
    eng.createStream(
      s"""CREATE STREAM visits (shop STRING, user STRING, spend BIGINT) WITH
         | (TYPE="file", FORMAT="json", DATASOURCE="${dir.toString}")""".stripMargin)
    MemoryHub.drop("sketch_out")
    eng.create(Rule("sk",
      """SELECT shop, hll_distinct(user) AS u_est,
        |  topk_sketch(user, 16, 1)[0].item AS top_user
        |FROM visits GROUP BY shop""".stripMargin,
      Seq(MemorySink("sketch_out"))))
    eng.start("sk")
    val out = MemoryHub.frame(spark, "sketch_out").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getString(2))).toMap
    assert(out.keySet == Set("s0", "s1", "s2"))
    // 7 distinct users round-robin over 3 shops → every shop sees all 7;
    // hll at p=14 is exact at this cardinality
    out.values.foreach { case (est, top) =>
      assert(est == 7L, s"estimate $est")
      assert(top.startsWith("u"))
    }
  }

  test("streaming rule over file stream delivers to sink incrementally") {
    val dir = tempDir("graft_stream_in")
    val ckpt = tempDir("graft_ckpt")
    writeJson(dir, Seq("""{"device":"a","temp":5}""", """{"device":"b","temp":9}"""))
    val eng = newEngine
    eng.createStream(
      s"""CREATE STREAM live (device STRING, temp BIGINT) WITH
         | (TYPE="file", FORMAT="json", DATASOURCE="${dir.toString}")""".stripMargin)
    ConnectorSink.clear("mqtt", "out/topic")
    eng.create(Rule("sr1",
      "SELECT device, temp * 2 AS t2 FROM live WHERE temp > 1",
      Seq(ConnectorSink("mqtt", "out/topic",
        Map("dataTemplate" -> """{"d":"{{device}}","v":{{t2}}}"""))),
      streaming = true, checkpointDir = Some(ckpt.toString)))
    eng.start("sr1")
    try {
      eng.processAllAvailable("sr1")
      val sent1 = ConnectorSink.sent("mqtt", "out/topic")
      assert(sent1.toSet == Set("""{"d":"a","v":10}""", """{"d":"b","v":18}"""))
      // a second file arrives → only the new rows are delivered
      Files.write(dir.resolve("part-1.json"), """{"device":"c","temp":7}""".getBytes)
      eng.processAllAvailable("sr1")
      val sent2 = ConnectorSink.sent("mqtt", "out/topic")
      assert(sent2.toSet == sent1.toSet + """{"d":"c","v":14}""")
      assert(eng.status("sr1").state == RuleState.Running)
    } finally eng.stop("sr1")
    assert(eng.status("sr1").state == RuleState.Stopped)
  }

  test("streaming rule over a connector-stub stream gets incremental micro-batches") {
    val eng = newEngine
    ConnectorFeed.clear("mqtt", "live/sensor")
    ConnectorSink.clear("rest", "hook/hot")
    eng.createStream(
      """CREATE STREAM msens (device STRING, temp BIGINT) WITH
        | (TYPE="mqtt", DATASOURCE="live/sensor")""".stripMargin)
    val ckpt = tempDir("graft_mqtt_ck")
    eng.create(Rule("rmq", "SELECT device, temp FROM msens WHERE temp > 20",
      Seq(ConnectorSink("rest", "hook/hot", Map("dataTemplate" -> """{{device}}:{{temp}}"""))),
      streaming = true, checkpointDir = Some(ckpt.toString)))
    ConnectorFeed.push("mqtt", "live/sensor", """{"device":"a","temp":25}""", 1000L)
    eng.start("rmq")
    try {
      eng.processAllAvailable("rmq")
      assert(ConnectorSink.sent("rest", "hook/hot").toSet == Set("a:25"))
      // frames pushed AFTER the stream started arrive as a new micro-batch
      ConnectorFeed.push("mqtt", "live/sensor", """{"device":"b","temp":30}""", 2000L)
      ConnectorFeed.push("mqtt", "live/sensor", """{"device":"c","temp":5}""", 3000L)
      eng.processAllAvailable("rmq")
      assert(ConnectorSink.sent("rest", "hook/hot").toSet == Set("a:25", "b:30"))
      // the stream really ran >= 2 micro-batches, not one bounded frame
      assert(eng.status("rmq").batchesProcessed >= 2)
    } finally eng.stop("rmq")
  }

  test("meta() exposes event metadata: bare-identifier and literal keys") {
    val eng = newEngine
    ConnectorFeed.clear("mqtt", "meta/in")
    ConnectorFeed.push("mqtt", "meta/in", """{"device":"a"}""", 4000L)
    eng.createStream(
      """CREATE STREAM msrc (device STRING) WITH
        | (TYPE="mqtt", DATASOURCE="meta/in", META="true")""".stripMargin)
    MemoryHub.drop("meta_out")
    eng.create(Rule("rmeta",
      "SELECT device, meta(topic) AS t, meta('kind') AS k, meta(arrival_ms) AS ts FROM msrc",
      Seq(MemorySink("meta_out"))))
    eng.start("rmeta")
    val r = MemoryHub.frame(spark, "meta_out").first()
    assert(r.getString(0) == "a" && r.getString(1) == "meta/in"
      && r.getString(2) == "mqtt" && r.getString(3) == "4000")
    // unknown keys are null, not an error (try_element_at semantics)
    eng.create(Rule("rmeta2", "SELECT meta(nope) AS n FROM msrc",
      Seq(MemorySink("meta_out2"))))
    MemoryHub.drop("meta_out2")
    eng.start("rmeta2")
    assert(MemoryHub.frame(spark, "meta_out2").first().isNullAt(0))
  }

  test("stream-stream join: two watermarked streams join within a time bound") {
    val d1 = tempDir("graft_ss_left")
    val d2 = tempDir("graft_ss_right")
    val ckpt = tempDir("graft_ss_ck")
    writeJson(d1, Seq(
      """{"device":"a","temp":21,"ts":"2024-01-02T03:00:10Z"}""",
      """{"device":"b","temp":30,"ts":"2024-01-02T03:00:20Z"}"""))
    Files.write(d2.resolve("part-0.json"), Seq(
      """{"device":"a","site":"berlin","ts":"2024-01-02T03:00:30Z"}""",
      """{"device":"b","site":"tokyo","ts":"2024-01-02T05:00:00Z"}""") // outside bound
      .mkString("\n").getBytes("UTF-8"))
    val eng = newEngine
    eng.createStream(
      s"""CREATE STREAM ssl (device STRING, temp BIGINT, ts TIMESTAMP) WITH
         | (TYPE="file", FORMAT="json", DATASOURCE="${d1.toString}",
         |  TIMESTAMP="ts", WATERMARK="10 seconds")""".stripMargin)
    eng.createStream(
      s"""CREATE STREAM ssr (device STRING, site STRING, ts TIMESTAMP) WITH
         | (TYPE="file", FORMAT="json", DATASOURCE="${d2.toString}",
         |  TIMESTAMP="ts", WATERMARK="10 seconds")""".stripMargin)
    MemoryHub.drop("ss_out")
    eng.create(Rule("rss",
      """SELECT l.device, l.temp, r.site
        |FROM ssl l JOIN ssr r
        |  ON l.device = r.device
        | AND r.ts BETWEEN l.ts - INTERVAL 1 MINUTE AND l.ts + INTERVAL 1 MINUTE""".stripMargin,
      Seq(MemorySink("ss_out")), streaming = true,
      checkpointDir = Some(ckpt.toString)))
    eng.start("rss")
    try {
      eng.processAllAvailable("rss")
      val rows = MemoryHub.frame(spark, "ss_out").collect()
      // device a joins (20s apart); device b's right event is 2h away
      assert(rows.length == 1 && rows(0).getString(0) == "a"
        && rows(0).getString(2) == "berlin", rows.mkString(";"))
    } finally eng.stop("rss")
  }

  test("rule-context functions substitute at plan time: rule_id, rule_start, event_time") {
    val dir = tempDir("graft_ctx_in")
    writeJson(dir, Seq("""{"device":"a","temp":5,"ts":"2024-01-02T03:04:05Z"}"""))
    val eng = newEngine
    eng.createStream(
      s"""CREATE STREAM ctxs (device STRING, temp BIGINT, ts TIMESTAMP) WITH
         | (TYPE="file", FORMAT="json", DATASOURCE="${dir.toString}",
         |  TIMESTAMP="ts")""".stripMargin)
    MemoryHub.drop("ctx_out")
    val before = System.currentTimeMillis()
    eng.create(Rule("r'ctx",
      "SELECT device, rule_id() AS rid, rule_start() AS rst, event_time() AS et FROM ctxs",
      Seq(MemorySink("ctx_out"))))
    eng.start("r'ctx")
    val r = MemoryHub.frame(spark, "ctx_out").first()
    assert(r.getString(1) == "r'ctx") // quoted-id injection-safe
    assert(r.getLong(2) >= before && r.getLong(2) <= System.currentTimeMillis())
    assert(r.get(3).toString.startsWith("2024-01-02"))
    // quoted occurrences stay literal
    assert(!EkuiperSql.isEkuiperDialect("SELECT 'rule_id()' AS s FROM t"))
  }

  test("batch rule evaluates once: a single Spark job serves sink and metrics") {
    val dir = tempDir("graft_onejob_in")
    writeJson(dir, Seq("""{"x":1}""", """{"x":2}""", """{"x":3}"""))
    val eng = newEngine
    eng.createStream(
      s"""CREATE STREAM oj (x BIGINT) WITH
         | (TYPE="file", FORMAT="json", DATASOURCE="${dir.toString}")""".stripMargin)
    eng.create(Rule("roj", "SELECT x * 2 AS y FROM oj", Seq(NopSink())))
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      eng.start("roj")
      Thread.sleep(500) // listener bus is async
      // the old implementation ran df.count() after the sink write —
      // a full second evaluation, i.e. 2 jobs for a 1-sink rule
      assert(jobs.get == 1, s"expected exactly one job, saw ${jobs.get}")
      assert(eng.status("roj").rowsProcessed == 3)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("restart policy relaunches a failed streaming rule from its checkpoint") {
    val dir = tempDir("graft_restart_in")
    val ckpt = tempDir("graft_restart_ck")
    writeJson(dir, Seq("""{"v":1}""", """{"v":2}"""))
    val eng = newEngine
    eng.createStream(
      s"""CREATE STREAM fsrc (v BIGINT) WITH
         | (TYPE="file", FORMAT="json", DATASOURCE="${dir.toString}")""".stripMargin)
    FlakySink.reset(failFirst = 1) // first micro-batch write dies -> query fails
    eng.create(Rule("rr", "SELECT v FROM fsrc", Seq(FlakySink()),
      streaming = true, checkpointDir = Some(ckpt.toString),
      restart = RestartPolicy(attempts = 3, delayMs = 100)))
    eng.start("rr")
    try {
      // failed batch was never committed, so the relaunch replays it
      val deadline = System.currentTimeMillis() + 30000
      while (FlakySink.delivered.isEmpty && System.currentTimeMillis() < deadline)
        Thread.sleep(100)
      assert(FlakySink.delivered.flatten.sorted == List(1L, 2L),
        s"restarted query must redeliver the failed batch, got ${FlakySink.delivered}")
      assert(eng.status("rr").state == RuleState.Running)
    } finally eng.stop("rr")
  }

  test("schedule windows gate when a rule runs") {
    val eng = newEngine
    ConnectorFeed.clear("mqtt", "sched/in")
    ConnectorFeed.push("mqtt", "sched/in", """{"v":5}""", 1000L)
    eng.createStream(
      """CREATE STREAM ssrc (v BIGINT) WITH (TYPE="mqtt", DATASOURCE="sched/in")""")
    MemoryHub.drop("sched_out")
    val now = System.currentTimeMillis()
    // window opens 1.5 s out (wide margin: the Scheduled assert below
    // must run before it) and closes ~3 s later
    eng.create(Rule("rs", "SELECT v FROM ssrc", Seq(MemorySink("sched_out")),
      schedule = Seq(ScheduleRange(now + 1500, now + 4500))))
    eng.start("rs")
    assert(eng.status("rs").state == RuleState.Scheduled) // not yet open
    val deadline = System.currentTimeMillis() + 15000
    while (!MemoryHub.exists("sched_out") && System.currentTimeMillis() < deadline)
      Thread.sleep(100)
    assert(MemoryHub.frame(spark, "sched_out").first().getLong(0) == 5,
      "rule must have run inside its window")
    // after the window closes the rule is parked again (no later window -> Stopped)
    while (eng.status("rs").state != RuleState.Stopped
      && System.currentTimeMillis() < deadline) Thread.sleep(100)
    assert(eng.status("rs").state == RuleState.Stopped)
    // a rule whose windows are all in the past never runs
    eng.create(Rule("rs2", "SELECT v FROM ssrc", Seq(MemorySink("sched_none")),
      schedule = Seq(ScheduleRange(now - 10000, now - 5000))))
    MemoryHub.drop("sched_none")
    eng.start("rs2")
    assert(eng.status("rs2").state == RuleState.Stopped && !MemoryHub.exists("sched_none"))
  }

  test("file-backed lookup table: later micro-batches see updated rows") {
    val evDir = tempDir("graft_lkp_ev")
    val lkDir = tempDir("graft_lkp_dim")
    val ckpt = tempDir("graft_lkp_ck")
    writeJson(evDir, Seq("""{"device":"d1"}"""))
    Files.write(lkDir.resolve("dim-0.json"), """{"device":"d1","site":"berlin"}""".getBytes)
    val eng = newEngine
    eng.createStream(
      s"""CREATE STREAM lev (device STRING) WITH
         | (TYPE="file", FORMAT="json", DATASOURCE="${evDir.toString}")""".stripMargin)
    eng.createStream(
      s"""CREATE TABLE ldim (device STRING, site STRING) WITH
         | (TYPE="file", FORMAT="json", DATASOURCE="${lkDir.toString}")""".stripMargin)
    ConnectorSink.clear("rest", "lkp/out"); ConnectorSink.clear("rest", "lkp/out2")
    val tpl = Map("dataTemplate" -> """{{device}}@{{site}}""")
    eng.create(Rule("rlk",
      "SELECT e.device, d.site FROM lev e JOIN ldim d ON e.device = d.device",
      Seq(ConnectorSink("rest", "lkp/out", tpl), ConnectorSink("rest", "lkp/out2", tpl)),
      streaming = true, checkpointDir = Some(ckpt.toString), liveLookup = true))
    eng.start("rlk")
    try {
      // both sinks hang off one query, which joins once per micro-batch
      assert(spark.streams.active.map(_.name).filter(_.startsWith("rlk_")).toSeq == Seq("rlk_0"))
      eng.processAllAvailable("rlk")
      assert(ConnectorSink.sent("rest", "lkp/out").toSet == Set("d1@berlin"))
      // the dimension data changes on disk; the batch side of the join
      // re-reads per micro-batch, so the next event sees the new row
      Files.write(lkDir.resolve("dim-1.json"), """{"device":"d2","site":"tokyo"}""".getBytes)
      Files.write(evDir.resolve("ev-1.json"), """{"device":"d2"}""".getBytes)
      eng.processAllAvailable("rlk")
      assert(ConnectorSink.sent("rest", "lkp/out").toSet == Set("d1@berlin", "d2@tokyo"))
      assert(ConnectorSink.sent("rest", "lkp/out2") == ConnectorSink.sent("rest", "lkp/out"))
    } finally eng.stop("rlk")
  }

  test("redis lookup table: stream joins enrich from redis; updates land next batch") {
    val stub = graft.net.RedisStubServer.start()
    val evDir = tempDir("graft_rlk_ev")
    val ckpt = tempDir("graft_rlk_ck")
    try {
      stub.put("d1", """{"site":"berlin","floor":2}""")
      writeJson(evDir, Seq("""{"device":"d1"}"""))
      val eng = newEngine
      eng.createStream(
        s"""CREATE STREAM rev (device STRING) WITH
           | (TYPE="file", FORMAT="json", DATASOURCE="${evDir.toString}")""".stripMargin)
      eng.createStream(
        s"""CREATE TABLE rdim (key STRING, site STRING, floor BIGINT) WITH
           | (TYPE="redis", ADDR="${stub.address}", DATATYPE="string")""".stripMargin)
      ConnectorSink.clear("rest", "rlk/out")
      eng.create(Rule("rrl",
        "SELECT e.device, d.site, d.floor FROM rev e JOIN rdim d ON e.device = d.key",
        Seq(ConnectorSink("rest", "rlk/out",
          Map("dataTemplate" -> """{{device}}@{{site}}/{{floor}}"""))),
        streaming = true, checkpointDir = Some(ckpt.toString), liveLookup = true))
      eng.start("rrl")
      try {
        eng.processAllAvailable("rrl")
        assert(ConnectorSink.sent("rest", "rlk/out").toSet == Set("d1@berlin/2"))
        // a key update + a new key land in the very next micro-batch —
        // the reference's per-event lookup freshness
        stub.put("d1", """{"site":"munich","floor":3}""")
        stub.put("d2", """{"site":"tokyo","floor":9}""")
        Files.write(evDir.resolve("ev-1.json"),
          """{"device":"d1"}
            |{"device":"d2"}""".stripMargin.getBytes)
        eng.processAllAvailable("rrl")
        assert(ConnectorSink.sent("rest", "rlk/out").toSet ==
          Set("d1@berlin/2", "d1@munich/3", "d2@tokyo/9"))
      } finally eng.stop("rrl")
    } finally stub.close()
  }

  test("http lookup table: stream joins enrich from a live endpoint; updates land next batch") {
    import com.sun.net.httpserver.HttpServer
    // mutable dimension "database" behind a GET endpoint
    @volatile var dim = """[{"key":"d1","site":"berlin","floor":2}]"""
    val server = HttpServer.create(
      new java.net.InetSocketAddress(java.net.InetAddress.getLoopbackAddress, 0), 0)
    server.setExecutor(java.util.concurrent.Executors.newCachedThreadPool())
    server.createContext("/dim", ex => {
      val b = dim.getBytes
      ex.sendResponseHeaders(200, b.length); ex.getResponseBody.write(b); ex.close()
    })
    server.start()
    val evDir = tempDir("graft_hlk_ev")
    val ckpt = tempDir("graft_hlk_ck")
    try {
      writeJson(evDir, Seq("""{"device":"d1"}"""))
      val eng = newEngine
      eng.createStream(
        s"""CREATE STREAM hev (device STRING) WITH
           | (TYPE="file", FORMAT="json", DATASOURCE="${evDir.toString}")""".stripMargin)
      eng.createStream(
        s"""CREATE TABLE hdim (key STRING, site STRING, floor BIGINT) WITH
           | (TYPE="http_pull", URL="http://127.0.0.1:${server.getAddress.getPort}/dim")""".stripMargin)
      ConnectorSink.clear("rest", "hlk/out")
      eng.create(Rule("rhl",
        "SELECT e.device, d.site, d.floor FROM hev e JOIN hdim d ON e.device = d.key",
        Seq(ConnectorSink("rest", "hlk/out",
          Map("dataTemplate" -> """{{device}}@{{site}}/{{floor}}"""))),
        streaming = true, checkpointDir = Some(ckpt.toString), liveLookup = true))
      eng.start("rhl")
      try {
        eng.processAllAvailable("rhl")
        assert(ConnectorSink.sent("rest", "hlk/out").toSet == Set("d1@berlin/2"))
        // endpoint update + a new key land in the very next micro-batch
        dim = """[{"key":"d1","site":"munich","floor":3},{"key":"d2","site":"tokyo","floor":9}]"""
        Files.write(evDir.resolve("ev-1.json"),
          """{"device":"d1"}
            |{"device":"d2"}""".stripMargin.getBytes)
        eng.processAllAvailable("rhl")
        assert(ConnectorSink.sent("rest", "hlk/out").toSet ==
          Set("d1@berlin/2", "d1@munich/3", "d2@tokyo/9"))
      } finally eng.stop("rhl")
    } finally server.stop(0)
  }

  test("lookup-table cache: CACHE props pull the backend once across micro-batches") {
    import com.sun.net.httpserver.HttpServer
    val pulls = new java.util.concurrent.atomic.AtomicInteger()
    val server = HttpServer.create(
      new java.net.InetSocketAddress(java.net.InetAddress.getLoopbackAddress, 0), 0)
    server.setExecutor(java.util.concurrent.Executors.newCachedThreadPool())
    server.createContext("/dim", ex => {
      pulls.incrementAndGet()
      val b = """[{"key":"d1","site":"berlin"},{"key":"d2","site":"tokyo"}]""".getBytes
      ex.sendResponseHeaders(200, b.length); ex.getResponseBody.write(b); ex.close()
    })
    server.start()
    val evDir = tempDir("graft_clk_ev")
    val ckpt = tempDir("graft_clk_ck")
    try {
      writeJson(evDir, Seq("""{"device":"d1"}"""))
      val eng = newEngine
      eng.createStream(
        s"""CREATE STREAM cev (device STRING) WITH
           | (TYPE="file", FORMAT="json", DATASOURCE="${evDir.toString}")""".stripMargin)
      eng.createStream(
        s"""CREATE TABLE cdim (key STRING, site STRING) WITH
           | (TYPE="http_pull", URL="http://127.0.0.1:${server.getAddress.getPort}/dim",
           |  CACHE="true", CACHETTL="1h")""".stripMargin)
      val cached = eng.catalog.get("cdim").get.source
      assert(cached.isInstanceOf[graft.sources.TtlCachedSource],
        s"CACHE prop must wrap the source, got ${cached.getClass}")
      ConnectorSink.clear("rest", "clk/out")
      eng.create(Rule("rcl",
        "SELECT e.device, d.site FROM cev e JOIN cdim d ON e.device = d.key",
        Seq(ConnectorSink("rest", "clk/out",
          Map("dataTemplate" -> """{{device}}@{{site}}"""))),
        streaming = true, checkpointDir = Some(ckpt.toString), liveLookup = true))
      eng.start("rcl")
      try {
        eng.processAllAvailable("rcl")
        Files.write(evDir.resolve("ev-1.json"), """{"device":"d2"}""".getBytes)
        eng.processAllAvailable("rcl")
        assert(ConnectorSink.sent("rest", "clk/out").toSet ==
          Set("d1@berlin", "d2@tokyo"))
        assert(pulls.get() == 1,
          s"cached table must pull the endpoint once, pulled ${pulls.get()}")
      } finally eng.stop("rcl")
      // the same rule WITHOUT cache re-pulls every micro-batch — the
      // freshness-vs-cost dial the reference's cache prop controls
      pulls.set(0)
      val ckpt2 = tempDir("graft_clk_ck2")
      val eng2 = newEngine
      eng2.createStream(
        s"""CREATE STREAM cev2 (device STRING) WITH
           | (TYPE="file", FORMAT="json", DATASOURCE="${evDir.toString}")""".stripMargin)
      eng2.createStream(
        s"""CREATE TABLE cdim2 (key STRING, site STRING) WITH
           | (TYPE="http_pull", URL="http://127.0.0.1:${server.getAddress.getPort}/dim")""".stripMargin)
      eng2.create(Rule("rcl2",
        "SELECT e.device, d.site FROM cev2 e JOIN cdim2 d ON e.device = d.key",
        Seq(NopSink()),
        streaming = true, checkpointDir = Some(ckpt2.toString), liveLookup = true))
      eng2.start("rcl2")
      try {
        eng2.processAllAvailable("rcl2")
        Files.write(evDir.resolve("ev-2.json"), """{"device":"d1"}""".getBytes)
        eng2.processAllAvailable("rcl2")
        assert(pulls.get() >= 2,
          s"uncached table must re-pull per micro-batch, pulled ${pulls.get()}")
      } finally eng2.stop("rcl2")
    } finally server.stop(0)
  }

  test("lookup cache: TTL expiry re-pulls; per-key cache honors cacheMissingKey") {
    import graft.sources.{Source, TtlCachedSource}
    import org.apache.spark.sql.{DataFrame, SparkSession}
    val fetched = new java.util.concurrent.atomic.AtomicInteger()
    val inner = new Source {
      def batch(s: SparkSession): DataFrame = {
        fetched.incrementAndGet()
        import s.implicits._
        Seq(("d1", "berlin"), ("d2", "tokyo")).toDF("key", "site")
      }
      def stream(s: SparkSession): DataFrame =
        throw new UnsupportedOperationException("table only")
    }
    val src = TtlCachedSource(inner, ttlMs = 60000L)
    assert(src.batch(spark).count() == 2 && fetched.get() == 1)
    assert(src.batch(spark).count() == 2 && fetched.get() == 1) // within TTL
    src.invalidate()
    assert(src.batch(spark).count() == 2 && fetched.get() == 2) // re-pull
    // point queries ride the cached snapshot (no extra backend pull),
    // and repeated keys are served from the per-key cache
    val hit = src.lookup(spark, Seq("site"), Seq("key"), Seq("d2")).collect()
    assert(hit.map(_.getString(0)).toSeq == Seq("tokyo") && fetched.get() == 2)
    assert(src.lookup(spark, Seq("site"), Seq("key"), Seq("d2")).count() == 1)
    // a missing key caches as empty by default (cacheMissingKey=true)…
    assert(src.lookup(spark, Nil, Seq("key"), Seq("nope")).isEmpty)
    assert(fetched.get() == 2)
    // …and with cacheMissingKey=false a LookupCapable backend is
    // re-queried for the same missing key every time
    val kFetched = new java.util.concurrent.atomic.AtomicInteger()
    val kInner = new Source with graft.sources.LookupCapable {
      def batch(s: SparkSession): DataFrame = inner.batch(s)
      def stream(s: SparkSession): DataFrame = inner.stream(s)
      def lookup(s: SparkSession, fields: Seq[String],
                 keys: Seq[String], values: Seq[Any]): DataFrame = {
        kFetched.incrementAndGet()
        import s.implicits._
        Seq.empty[(String, String)].toDF("key", "site")
      }
    }
    val noMiss = TtlCachedSource(kInner, ttlMs = 60000L, cacheMissingKey = false)
    noMiss.lookup(spark, Nil, Seq("key"), Seq("zz"))
    noMiss.lookup(spark, Nil, Seq("key"), Seq("zz"))
    assert(kFetched.get() == 2, "missing key must not cache when cacheMissingKey=false")
    val withMiss = TtlCachedSource(kInner, ttlMs = 60000L, cacheMissingKey = true)
    kFetched.set(0)
    withMiss.lookup(spark, Nil, Seq("key"), Seq("zz"))
    withMiss.lookup(spark, Nil, Seq("key"), Seq("zz"))
    assert(kFetched.get() == 1, "missing key must cache when cacheMissingKey=true")
    // multi-key value lists with equal concatenations are DISTINCT
    // cache keys (("ab","c") vs ("a","bc") must not share an entry)
    kFetched.set(0)
    val two = TtlCachedSource(kInner, ttlMs = 60000L)
    two.lookup(spark, Nil, Seq("k1", "k2"), Seq("ab", "c"))
    two.lookup(spark, Nil, Seq("k1", "k2"), Seq("a", "bc"))
    assert(kFetched.get() == 2, "concatenation-colliding values must miss the cache")
    // concurrent micro-batches over one table: 8 racing batch() calls
    // still pull the backend exactly once
    fetched.set(0)
    val shared = TtlCachedSource(inner, ttlMs = 60000L)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val counts = Await.result(
      Future.sequence(Seq.fill(8)(Future(shared.batch(spark).count()))), 60.seconds)
    assert(counts.forall(_ == 2L) && fetched.get() == 1,
      s"8 concurrent batch() calls must share one fetch, got ${fetched.get()}")
  }

  test("simulator lookup table: DATA rows join as a dimension; point lookup filters") {
    val eng = newEngine
    eng.createStream(
      """CREATE TABLE sdim (key STRING, site STRING) WITH
        | (TYPE="simulator", DATA="[{\"key\":\"d1\",\"site\":\"berlin\"},{\"key\":\"d2\",\"site\":\"tokyo\"}]")""".stripMargin)
    val src = eng.catalog.get("sdim").get.source.asInstanceOf[graft.sources.SimulatorSource]
    // table batch: both rows
    assert(src.batch(spark).count() == 2)
    // eKuiper Lookup(fields, keys, values)
    val hit = src.lookup(spark, Seq("site"), Seq("key"), Seq("d2")).collect()
    assert(hit.map(_.getString(0)).toSeq == Seq("tokyo"))
    assert(src.lookup(spark, Nil, Seq("key"), Seq("nope")).isEmpty)
  }

  test("explain exposes the Catalyst plan with pushed filters") {
    val eng = newEngine
    eng.createStream(
      s"""CREATE STREAM ev2 (event_id BIGINT, value DOUBLE) WITH
         | (TYPE="file", FORMAT="parquet", DATASOURCE="$sf/events.parquet")""".stripMargin)
    eng.create(Rule("er", "SELECT event_id FROM ev2 WHERE event_id < 10", Seq(NopSink())))
    val plan = eng.explain("er")
    assert(plan.contains("PushedFilters") && plan.contains("LessThan(event_id,10)"),
      s"filter not pushed:\n$plan")
  }

  test("eKuiper-dialect rule SQL (TUMBLINGWINDOW, window_start) runs unchanged") {
    val dir = tempDir("graft_ek")
    writeJson(dir, Seq(
      """{"device":"a","temp":30,"ts":"2024-01-01T00:00:05Z"}""",
      """{"device":"a","temp":35,"ts":"2024-01-01T00:00:55Z"}""",
      """{"device":"b","temp":40,"ts":"2024-01-01T00:01:05Z"}""",
      """{"device":"a","temp":10,"ts":"2024-01-01T00:01:15Z"}""",
      """{"device":"b","temp":50,"ts":"2024-01-01T00:02:30Z"}"""))
    val eng = newEngine
    eng.createStream(
      s"""CREATE STREAM kev (device STRING, temp BIGINT, ts TIMESTAMP) WITH
         | (TYPE="file", FORMAT="json", DATASOURCE="$dir", TIMESTAMP="ts")""".stripMargin)
    MemoryHub.drop("kout")
    eng.create(Rule("ek1",
      """SELECT device, count(*) AS n, window_start() AS ws
        |FROM kev WHERE temp > 20
        |GROUP BY device, TUMBLINGWINDOW(ss, 60)""".stripMargin,
      Seq(MemorySink("kout"))))
    eng.start("ek1")
    val out = MemoryHub.frame(spark, "kout")
    // equivalent Spark SQL gives identical results
    val expected = spark.sql(
      """SELECT device, count(*) AS n, window.start AS ws
        |FROM kev WHERE temp > 20
        |GROUP BY device, window(ts, '60 seconds')""".stripMargin)
    assert(out.count() > 0 && out.exceptAll(expected).count() == 0
      && expected.exceptAll(out).count() == 0)
    // per-event/arrival-order windows are rejected with guidance
    assert(EkuiperSql.isEkuiperDialect("SELECT * FROM x GROUP BY COUNTWINDOW(5)"))
    intercept[IllegalArgumentException](
      EkuiperSql.translate("SELECT count(*) FROM kev GROUP BY COUNTWINDOW(5)"))
    // hop/session window translations
    assert(EkuiperSql.translate("GROUP BY HOPPINGWINDOW(ss, 30, 10)", "ts") ==
      "GROUP BY window(ts, '30 seconds', '10 seconds')")
    assert(EkuiperSql.translate("GROUP BY SESSIONWINDOW(mi, 10, 2)", "ts") ==
      "GROUP BY session_window(ts, '2 minutes')")
    assert(EkuiperSql.translate("GROUP BY TUMBLINGWINDOW(hh, 1)", "evt") ==
      "GROUP BY window(evt, '1 hours')")
    // arrow JSON access rewrites; spaced Spark lambdas untouched
    assert(EkuiperSql.translate("SELECT data->a->b, m->k FROM t") ==
      "SELECT data['a']['b'], m['k'] FROM t")
    assert(EkuiperSql.translate("SELECT transform(xs, x -> x + 1), p->q FROM t") ==
      "SELECT transform(xs, x -> x + 1), p['q'] FROM t")
    // arrows inside string literals survive untouched (incl. '' escapes
    // and backquoted identifiers), and don't trigger dialect detection
    assert(EkuiperSql.translate("SELECT m->k FROM t WHERE note = 'a->b'") ==
      "SELECT m['k'] FROM t WHERE note = 'a->b'")
    assert(EkuiperSql.translate("SELECT 'it''s x->y here', m->k FROM t") ==
      "SELECT 'it''s x->y here', m['k'] FROM t")
    assert(EkuiperSql.translate("SELECT `weird->col`, m->k FROM t") ==
      "SELECT `weird->col`, m['k'] FROM t")
    assert(!EkuiperSql.isEkuiperDialect("SELECT x FROM t WHERE note = 'a->b'"))
    assert(EkuiperSql.isEkuiperDialect("SELECT m->k FROM t"))
    // a masked literal leaves a token boundary behind: code adjacent to
    // a literal must not merge into a false keyword (TUMBLING'x'WINDOW(
    // is not TUMBLINGWINDOW(), and a quoted span between COUNT and
    // WINDOW( must not trip the COUNTWINDOW rejection
    assert(!EkuiperSql.isEkuiperDialect("SELECT a AS TUMBLING'x'WINDOW(b) FROM t"))
    assert(EkuiperSql.translate("SELECT m->k, COUNT'x'WINDOW(b) FROM t") ==
      "SELECT m['k'], COUNT'x'WINDOW(b) FROM t")
    // window keywords inside literals are data: not rewritten, and a
    // quoted SLIDINGWINDOW does not trigger the rejection
    assert(EkuiperSql.translate("SELECT m->k, 'TUMBLINGWINDOW(ss,5)' AS note FROM t") ==
      "SELECT m['k'], 'TUMBLINGWINDOW(ss,5)' AS note FROM t")
    assert(EkuiperSql.translate(
      "SELECT m->k, 'use SLIDINGWINDOW(ss,5)' AS hint FROM t") ==
      "SELECT m['k'], 'use SLIDINGWINDOW(ss,5)' AS hint FROM t")
    assert(EkuiperSql.translate("SELECT 'window_start()' AS lit, window_start() FROM t") ==
      "SELECT 'window_start()' AS lit, window.start FROM t")
    // end-to-end: arrow access over a map column
    spark.sql("SELECT map('k', 42) AS m").createOrReplaceTempView("arrow_t")
    val eng2 = newEngine
    MemoryHub.drop("arrow_out")
    eng2.create(Rule("ek2", "SELECT m->k AS v FROM arrow_t",
      Seq(MemorySink("arrow_out"))))
    eng2.start("ek2")
    assert(MemoryHub.frame(spark, "arrow_out").first().getInt(0) == 42)
  }

  test("streaming rule recovers from checkpoint without reprocessing") {
    val dir = tempDir("graft_ckpt_in")
    val ckpt = tempDir("graft_ckpt_state")
    writeJson(dir, Seq("""{"device":"a","temp":1}"""))
    ConnectorSink.clear("mqtt", "ckpt/out")
    def mkEngine(): RuleEngine = {
      val e = new RuleEngine(spark)
      e.createStream(
        s"""CREATE STREAM ck (device STRING, temp BIGINT) WITH
           | (TYPE="file", FORMAT="json", DATASOURCE="$dir")""".stripMargin)
      e.create(Rule("ck1", "SELECT device, temp FROM ck",
        Seq(ConnectorSink("mqtt", "ckpt/out",
          Map("dataTemplate" -> """{{device}}{{temp}}"""))),
        streaming = true, checkpointDir = Some(ckpt.toString)))
      e
    }
    val e1 = mkEngine()
    e1.start("ck1"); e1.processAllAvailable("ck1"); e1.stop("ck1"); e1.delete("ck1")
    assert(ConnectorSink.sent("mqtt", "ckpt/out") == Vector("a1"))
    // new engine instance, same checkpoint: only the new file replays
    Files.write(dir.resolve("b.json"), """{"device":"b","temp":2}""".getBytes)
    val e2 = mkEngine()
    e2.start("ck1"); e2.processAllAvailable("ck1"); e2.stop("ck1")
    assert(ConnectorSink.sent("mqtt", "ckpt/out") == Vector("a1", "b2"),
      "checkpoint restart must deliver exactly the unseen rows")
  }

  test("two-sink streaming rule runs one query: same rows, rows counted once, one checkpoint") {
    val eng = newEngine
    ConnectorFeed.clear("mqtt", "fan/in")
    MemoryHub.drop("fan_a"); MemoryHub.drop("fan_b")
    eng.createStream(
      """CREATE STREAM fan (device STRING, temp BIGINT, ts TIMESTAMP) WITH
        | (TYPE="mqtt", DATASOURCE="fan/in", TIMESTAMP="ts", WATERMARK="10 seconds")""".stripMargin)
    val sql = """SELECT device, count(*) AS n, window_start() AS ws
                |FROM fan GROUP BY device, TUMBLINGWINDOW(ss, 10)""".stripMargin
    // sinks on one frame share one query, so they must agree on its output mode
    val mixed = intercept[IllegalArgumentException](eng.create(Rule("fan_mixed", sql,
      Seq(MemorySink("fan_a", Map("outputMode" -> "append")),
        MemorySink("fan_b", Map("outputMode" -> "update"))), streaming = true)))
    assert(mixed.getMessage.contains("append") && mixed.getMessage.contains("update"),
      mixed.getMessage)
    val ckpt = tempDir("graft_fan_ck")
    eng.create(Rule("fan2", sql, Seq(MemorySink("fan_a"), MemorySink("fan_b")),
      streaming = true, checkpointDir = Some(ckpt.toString)))
    def push(events: (String, Int)*): Unit = events.foreach { case (device, sec) =>
      ConnectorFeed.push("mqtt", "fan/in",
        f"""{"device":"$device","temp":1,"ts":"2024-01-01T00:00:$sec%02dZ"}""", 1000L)
    }
    def sunk(topic: String): Seq[(String, Long, Int)] =
      MemoryHub.frame(spark, topic).selectExpr("device", "n", "second(ws)").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getInt(2))).sorted.toSeq
    def queries = spark.streams.active.map(_.name).filter(_.startsWith("fan2")).toSeq
    eng.start("fan2")
    try {
      assert(queries == Seq("fan2_0"))
      // the watermark reaches 0:15: the 0:00 window closes
      push("a" -> 1, "a" -> 5, "b" -> 12, "a" -> 25)
      eng.processAllAvailable("fan2")
      assert(sunk("fan_a") == Seq(("a", 2L, 0)))
      assert(sunk("fan_b") == sunk("fan_a"))
    } finally eng.stop("fan2")
    // pushed while stopped, so the restarted query reads all three in
    // its first micro-batch; below the event-time high mark they leave
    // the watermark in place, so no empty batch follows
    push("b" -> 16, "a" -> 22, "b" -> 24)
    eng.start("fan2")
    try {
      assert(queries == Seq("fan2_0"))
      eng.processAllAvailable("fan2")
      assert(eng.status("fan2").rowsProcessed == 3) // once, however many sinks
      assert(sunk("fan_a") == Seq(("a", 2L, 0)) && sunk("fan_b") == sunk("fan_a"))
      // the one checkpoint's state holds the open windows: they close
      // now, in both sinks, and nothing delivered before is replayed
      push("c" -> 45)
      eng.processAllAvailable("fan2")
      val expected = Seq(("a", 2L, 0), ("a", 2L, 20), ("b", 1L, 20), ("b", 2L, 10)).sorted
      assert(sunk("fan_a") == expected)
      assert(sunk("fan_b") == expected)
    } finally eng.stop("fan2")
  }

  test("stateful window rule resumes on a checkpoint Spark's default manager wrote") {
    import graft.streaming.LocalCheckpointFileManager
    import LocalCheckpointFileManager.ConfKey
    val dir = tempDir("graft_resume_in")
    val ckpt = tempDir("graft_resume_ck")
    val streamed = tempDir("graft_resume_out")
    val batched = tempDir("graft_resume_batch")
    // one event per device every 3 s; the flush event's late timestamp
    // moves the watermark past every data window
    def events(secs: Range): Seq[String] = for (s <- secs; d <- Seq("a", "b")) yield
      f"""{"device":"$d","temp":${s % 7 + 1},"ts":"2024-01-01T00:${s / 60}%02d:${s % 60}%02dZ"}"""
    val sql = """SELECT device, count(*) AS n, sum(temp) AS total, window_start() AS ws
                |FROM rs GROUP BY device, TUMBLINGWINDOW(ss, 10)""".stripMargin
    def engine(): RuleEngine = {
      val e = new RuleEngine(spark)
      e.createStream(
        s"""CREATE STREAM rs (device STRING, temp BIGINT, ts TIMESTAMP) WITH
           | (TYPE="file", FORMAT="json", DATASOURCE="$dir",
           |  TIMESTAMP="ts", WATERMARK="5 seconds")""".stripMargin)
      e
    }
    def runStreaming(): Unit = {
      val e = engine()
      e.create(Rule("rs1", sql, Seq(FileSink(streamed.toString)),
        streaming = true, checkpointDir = Some(ckpt.toString)))
      try { e.start("rs1"); e.processAllAvailable("rs1") } finally { e.stop("rs1"); e.close() }
    }
    def lines(d: java.nio.file.Path): Seq[String] =
      spark.read.text(d.toString).collect().map(_.getString(0)).filterNot(_.contains("flush")).sorted.toSeq
    val previous = spark.conf.getOption(ConfKey)
    try {
      // first run: Spark's default manager writes the checkpoint (with
      // Hadoop's .crc files) and leaves the 30-40 s window in state
      spark.conf.set(ConfKey,
        "org.apache.spark.sql.execution.streaming.checkpointing.FileContextBasedCheckpointFileManager")
      writeJson(dir, events(0 until 36 by 3))
      runStreaming()
      assert(Files.walk(ckpt).anyMatch(_.getFileName.toString.endsWith(".crc")))
      val firstRun = lines(streamed)
      assert(firstRun.nonEmpty && !firstRun.exists(_.contains("00:00:30")), firstRun)
      // second run: graft's manager resumes from that checkpoint
      spark.conf.unset(ConfKey)
      Files.write(dir.resolve("part-1.json"),
        (events(36 until 70 by 3) :+
          """{"device":"flush","temp":0,"ts":"2024-01-01T00:05:00Z"}""").mkString("\n").getBytes("UTF-8"))
      runStreaming()
      assert(spark.conf.get(ConfKey) == classOf[LocalCheckpointFileManager].getName)
      // the batches of the second run were logged without .crc files
      val offsets = ckpt.resolve("0/offsets")
      val lastBatch = offsets.toFile.list().filter(_.forall(_.isDigit)).map(_.toInt).max
      assert(!Files.exists(offsets.resolve(s".$lastBatch.crc")) &&
        Files.exists(offsets.resolve(".0.crc")))
      val e = engine()
      e.create(Rule("rs_batch", sql, Seq(FileSink(batched.toString))))
      e.start("rs_batch")
      e.close()
      assert(lines(batched).size == 14) // 7 windows x 2 devices
      assert(lines(streamed) == lines(batched))
    } finally previous.fold(spark.conf.unset(ConfKey))(spark.conf.set(ConfKey, _))
  }

  test("schemaless CREATE STREAM infers the schema from existing files") {
    val dir = tempDir("graft_schemaless")
    writeJson(dir, Seq("""{"device":"a","temp":12}""", """{"device":"b","temp":30}"""))
    val eng = newEngine
    eng.createStream(
      s"""CREATE STREAM sless () WITH (TYPE="file", FORMAT="json", DATASOURCE="$dir")""")
    MemoryHub.drop("sless_out")
    eng.create(Rule("slr", "SELECT device FROM sless WHERE temp > 20",
      Seq(MemorySink("sless_out")), streaming = true))
    eng.start("slr")
    try {
      eng.processAllAvailable("slr")
      assert(MemoryHub.frame(spark, "sless_out").collect().map(_.getString(0)).toSeq == Seq("b"))
    } finally eng.stop("slr")
  }

  test("streaming rule joins a stream with a lookup table") {
    val dir = tempDir("graft_lookup_in")
    writeJson(dir, Seq("""{"device":"d1","temp":30}""", """{"device":"d2","temp":40}"""))
    val eng = newEngine
    eng.createStream(
      s"""CREATE STREAM lk_ev (device STRING, temp BIGINT) WITH
         | (TYPE="file", FORMAT="json", DATASOURCE="$dir")""".stripMargin)
    MemoryHub.drop("lk_dim"); MemoryHub.drop("lk_out")
    MemoryHub.publish("lk_dim",
      spark.createDataFrame(Seq(("d1", "hall"), ("d2", "roof"))).toDF("device", "site"))
    // TABLE → batch side of a stream-static join (broadcast lookup)
    eng.createStream(
      """CREATE TABLE lk_sites (device STRING, site STRING) WITH
        | (TYPE="memory", DATASOURCE="lk_dim")""".stripMargin)
    eng.create(Rule("lkr",
      "SELECT e.device, e.temp, s.site FROM lk_ev e JOIN lk_sites s ON e.device = s.device",
      Seq(MemorySink("lk_out")), streaming = true))
    eng.start("lkr")
    try {
      eng.processAllAvailable("lkr")
      val out = MemoryHub.frame(spark, "lk_out").orderBy("device").collect()
      assert(out.length == 2)
      assert(out(0).getString(2) == "hall" && out(1).getString(2) == "roof")
    } finally eng.stop("lkr")
  }

  test("rule chaining: streaming rule -> memory topic -> streaming rule") {
    val dir = tempDir("graft_chain_in")
    val ck1 = tempDir("graft_chain_ck1")
    val ck2 = tempDir("graft_chain_ck2")
    writeJson(dir, Seq("""{"device":"a","temp":30}""", """{"device":"b","temp":15}"""))
    val eng = newEngine
    eng.createStream(
      s"""CREATE STREAM chain_in (device STRING, temp BIGINT) WITH
         | (TYPE="file", FORMAT="json", DATASOURCE="$dir")""".stripMargin)
    MemoryHub.drop("chain_hub")
    // rule 1: filter hot readings into the memory topic
    eng.create(Rule("c1", "SELECT device, temp FROM chain_in WHERE temp > 20",
      Seq(MemorySink("chain_hub")), streaming = true,
      checkpointDir = Some(ck1.toString)))
    eng.start("c1")
    eng.processAllAvailable("c1")
    // rule 2: consume the topic as a stream, deliver to a connector
    eng.createStream(
      """CREATE STREAM chain_hub (device STRING, temp BIGINT) WITH
        | (TYPE="memory", DATASOURCE="chain_hub")""".stripMargin)
    ConnectorSink.clear("mqtt", "chain/out")
    eng.create(Rule("c2", "SELECT device, temp * 10 AS t10 FROM chain_hub",
      Seq(ConnectorSink("mqtt", "chain/out",
        Map("dataTemplate" -> """{{device}}:{{t10}}"""))),
      streaming = true, checkpointDir = Some(ck2.toString)))
    eng.start("c2")
    eng.processAllAvailable("c2")
    assert(ConnectorSink.sent("mqtt", "chain/out") == Vector("a:300"))
    // more input flows through both rules
    Files.write(dir.resolve("part-1.json"), """{"device":"c","temp":25}""".getBytes)
    eng.processAllAvailable("c1")
    eng.processAllAvailable("c2")
    assert(ConnectorSink.sent("mqtt", "chain/out").toSet == Set("a:300", "c:250"))
    eng.stop("c1"); eng.stop("c2")
  }

  test("rule SQL can use windows over a simulator/nexmark source") {
    val eng = newEngine
    eng.catalog.register(StreamDef("bids", NexmarkBidSource(count = 1000)))
    MemoryHub.drop("bid_stats")
    eng.create(Rule("nx",
      """SELECT auction, count(*) AS n, max(price) AS top
        |FROM bids GROUP BY auction HAVING count(*) > 0""".stripMargin,
      Seq(MemorySink("bid_stats"))))
    eng.start("nx")
    val n = MemoryHub.frame(spark, "bid_stats").agg(sum("n")).first().getLong(0)
    assert(n == 1000)
  }

  test("cron parser: field grammar, nextFire, durations") {
    import java.time.ZoneId
    val utc = ZoneId.of("UTC")
    val jan1 = 1704067200000L // 2024-01-01T00:00:00Z, a Monday
    def next(expr: String, from: Long) = Cron.nextFire(Cron.parse(expr), from, utc)
    assert(next("*/15 * * * *", jan1 + 1).contains(1704068100000L)) // 00:15
    assert(next("0 0 1 1 *", jan1 + 1).contains(1735689600000L)) // Jan 1 2025
    assert(next("30 2 * * mon", jan1).contains(1704076200000L)) // Mon 02:30
    // dom/dow both restricted → OR: first Friday (Jan 5) precedes the 13th
    assert(next("0 0 13 * fri", jan1 + 1).contains(1704412800000L))
    assert(next("0 0 30 2 *", jan1).isEmpty) // Feb 30 never fires
    assert(next("0 0 * jan *", jan1).contains(jan1)) // month names; at-or-after
    // robfig star-prefix semantics: `*/2` dom is a star, so the day
    // must match BOTH fields (odd day AND Monday) → Jan 15, not Jan 3
    assert(next("0 0 */2 * mon", jan1 + 1).contains(1705276800000L))
    intercept[IllegalArgumentException](Cron.parse("* * * *")) // 4 fields
    intercept[IllegalArgumentException](Cron.parse("61 * * * *")) // out of range
    assert(Cron.parseDuration("90s") == 90000L)
    assert(Cron.parseDuration("1h30m") == 5400000L)
    assert(Cron.parseDuration("500ms") == 500L)
    assert(Cron.parseDuration("10") == 10000L) // bare number = seconds
    intercept[IllegalArgumentException](Cron.parseDuration("10 bananas"))
  }

  test("cron schedule windows: active fire, next begin, datetime-range gates") {
    import java.time.ZoneId
    val c = CronSchedule("*/10 * * * *", 300000L, ZoneId.of("UTC")) // every 10 min, run 5 min
    val now = 1704067920000L // 00:12 — inside the 00:10 fire's 5-min window
    assert(c.windowAt(now).contains(ScheduleRange(1704067800000L, 1704068100000L)))
    assert(c.nextBegin(now).contains(1704068400000L)) // 00:20
    assert(c.windowAt(1704068160000L).isEmpty) // 00:16 — between windows
    // gates (reference cronDatetimeRange): only fires inside a range count
    val gate = Seq(ScheduleRange(1704069000000L, 1704070800000L)) // [00:30, 01:00)
    assert(c.windowAt(now, gate).isEmpty) // 00:10 fire is outside the gate
    assert(c.nextBegin(now, gate).contains(1704069000000L)) // first gated fire 00:30
    assert(c.nextBegin(1704070800000L, gate).isEmpty) // gate closed, nothing ever valid
    // a frequent cron gated by a far-future range must jump to the gate
    // opening, not step fire-by-fire (would exhaust any step budget)
    val everyMin = CronSchedule("* * * * *", 60000L, ZoneId.of("UTC"))
    val in30d = 1704067200000L + 30L * 86400000L // 30 days after Jan 1
    val farGate = Seq(ScheduleRange(in30d, in30d + 3600000L))
    assert(everyMin.nextBegin(1704067200000L, farGate).contains(in30d))
    // dead gate behind + live gate ahead: skip to the live one
    val mixed = Seq(ScheduleRange(1000L, 2000L), ScheduleRange(in30d, in30d + 60000L))
    assert(everyMin.nextBegin(1704067200000L, mixed).contains(in30d))
  }

  test("cron-scheduled rule runs during a fire window and parks outside") {
    val eng = newEngine
    ConnectorFeed.clear("mqtt", "cron/in")
    ConnectorFeed.push("mqtt", "cron/in", """{"v":9}""", 1000L)
    eng.createStream(
      """CREATE STREAM cronsrc (v BIGINT) WITH (TYPE="mqtt", DATASOURCE="cron/in")""")
    // fires every minute and runs 2 min → some window always contains now
    MemoryHub.drop("cron_out")
    eng.create(Rule("rcron", "SELECT v FROM cronsrc", Seq(MemorySink("cron_out")),
      cron = Some(CronSchedule("* * * * *", 120000L))))
    eng.start("rcron")
    val deadline = System.currentTimeMillis() + 15000
    while (!MemoryHub.exists("cron_out") && System.currentTimeMillis() < deadline)
      Thread.sleep(100)
    assert(MemoryHub.frame(spark, "cron_out").first().getLong(0) == 9,
      "rule must have run inside the live cron window")
    eng.stop("rcron")
    // next fire a year out → parked as Scheduled
    eng.create(Rule("rcron2", "SELECT v FROM cronsrc", Seq(MemorySink("cron_never")),
      cron = Some(CronSchedule("0 0 1 1 *", 60000L))))
    MemoryHub.drop("cron_never")
    eng.start("rcron2")
    assert(eng.status("rcron2").state == RuleState.Scheduled)
    assert(!MemoryHub.exists("cron_never"))
    // cron gated by an exhausted datetime range → Stopped, never runs
    eng.create(Rule("rcron3", "SELECT v FROM cronsrc", Seq(MemorySink("cron_gone")),
      cron = Some(CronSchedule("* * * * *", 60000L)),
      schedule = Seq(ScheduleRange(1000L, 2000L))))
    MemoryHub.drop("cron_gone")
    eng.start("rcron3")
    assert(eng.status("rcron3").state == RuleState.Stopped)
    assert(!MemoryHub.exists("cron_gone"))
    // frequent cron gated by a range 30 days out: a valid fire lies
    // ahead, so the rule must park Scheduled (not Stopped)
    val in30d = System.currentTimeMillis() + 30L * 86400000L
    eng.create(Rule("rcron4", "SELECT v FROM cronsrc", Seq(MemorySink("cron_later")),
      cron = Some(CronSchedule("* * * * *", 60000L)),
      schedule = Seq(ScheduleRange(in30d, in30d + 3600000L))))
    MemoryHub.drop("cron_later")
    eng.start("rcron4")
    assert(eng.status("rcron4").state == RuleState.Scheduled)
    assert(!MemoryHub.exists("cron_later"))
  }
}
