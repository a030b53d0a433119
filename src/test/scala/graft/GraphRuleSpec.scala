package graft

import graft.rules._
import graft.sources.MemoryHub
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Graph-API rules (SURVEY §2.8): JSON DAG → Dataset plan, same
  * lifecycle as SQL rules.
  */
class GraphRuleSpec extends SparkSuite {

  test("filter → aggregate → memory sink pipeline") {
    val dir = tempDir("graft_graph_in")
    Files.write(dir.resolve("in.json"),
      Seq("""{"device":"d1","temp":30}""", """{"device":"d1","temp":40}""",
          """{"device":"d2","temp":10}""", """{"device":"d2","temp":35}""")
        .mkString("\n").getBytes)
    val eng = new RuleEngine(spark)
    eng.createStream(
      s"""CREATE STREAM gsensor (device STRING, temp BIGINT) WITH
         | (TYPE="file", FORMAT="json", DATASOURCE="$dir")""".stripMargin)
    MemoryHub.drop("graph_out")
    eng.create(Rule.graph("g1",
      """{"nodes": {
        |  "src":  {"type":"source", "stream":"gsensor"},
        |  "hot":  {"type":"operator", "op":"filter", "expr":"temp > 20"},
        |  "stat": {"type":"operator", "op":"aggregate",
        |           "groupBy":["device"], "aggs":["count(*) as n", "sum(temp) as total"]},
        |  "out":  {"type":"sink", "kind":"memory", "endpoint":"graph_out"}},
        | "edges": {"src":["hot"], "hot":["stat"], "stat":["out"]}}""".stripMargin))
    eng.start("g1")
    val rows = MemoryHub.frame(spark, "graph_out").orderBy("device").collect()
    assert(rows.length == 2)
    assert(rows(0).getString(0) == "d1" && rows(0).getLong(1) == 2 && rows(0).getLong(2) == 70)
    assert(rows(1).getString(0) == "d2" && rows(1).getLong(1) == 1 && rows(1).getLong(2) == 35)
    assert(eng.status("g1").state == RuleState.Stopped)
  }

  test("expr node: add/overwrite columns sequentially, parity with the equivalent SQL") {
    val eng = new RuleEngine(spark)
    MemoryHub.publish("g_expr_in",
      spark.createDataFrame(Seq(("d1", 20L), ("d2", 35L))).toDF("device", "temp"))
    eng.createStream("""CREATE TABLE gexpr (device STRING, temp BIGINT) WITH (TYPE="memory", DATASOURCE="g_expr_in")""")
    MemoryHub.drop("expr_out")
    // temp_f derives from temp; the second expression overwrites device
    // using temp_f — sequential script semantics, all other columns kept
    eng.create(Rule.graph("gexpr1",
      """{"nodes": {
        |  "src": {"type":"source", "stream":"gexpr"},
        |  "mut": {"type":"operator", "op":"expr",
        |          "exprs":["temp * 9 / 5 + 32 AS temp_f",
        |                   "concat(device, '-', cast(temp_f as int)) AS device"]},
        |  "out": {"type":"sink", "kind":"memory", "endpoint":"expr_out"}},
        | "edges": {"src":["mut"], "mut":["out"]}}""".stripMargin))
    eng.start("gexpr1")
    val out = MemoryHub.frame(spark, "expr_out")
    assert(out.columns.toSeq == Seq("device", "temp", "temp_f"))
    // parity with the equivalent project SQL on the same input
    val expect = MemoryHub.frame(spark, "g_expr_in").selectExpr(
      "concat(device, '-', cast(temp * 9 / 5 + 32 as int)) AS device",
      "temp", "temp * 9 / 5 + 32 AS temp_f")
    assert(out.select("device", "temp", "temp_f").orderBy("temp").collect().toSeq ==
      expect.select("device", "temp", "temp_f").orderBy("temp").collect().toSeq)
    // an expression without AS is rejected eagerly
    val err = intercept[IllegalArgumentException] {
      eng.create(Rule.graph("gexpr2",
        """{"nodes": {
          |  "src": {"type":"source", "stream":"gexpr"},
          |  "bad": {"type":"operator", "op":"expr", "exprs":["temp * 2"]},
          |  "out": {"type":"sink", "kind":"memory", "endpoint":"expr_bad"}},
          | "edges": {"src":["bad"], "bad":["out"]}}""".stripMargin))
      eng.start("gexpr2")
    }
    assert(err.getMessage.contains("AS name"), err.getMessage)
  }

  test("two-source join node with projection") {
    val eng = new RuleEngine(spark)
    MemoryHub.publish("g_orders", spark.range(4).toDF("oid")
      .withColumn("cid", col("oid") % 2))
    MemoryHub.publish("g_custs",
      spark.createDataFrame(Seq((0L, "alice"), (1L, "bob"))).toDF("cid", "cname"))
    eng.createStream("""CREATE TABLE gorders (oid BIGINT, cid BIGINT) WITH (TYPE="memory", DATASOURCE="g_orders")""")
    eng.createStream("""CREATE TABLE gcusts (cid BIGINT, cname STRING) WITH (TYPE="memory", DATASOURCE="g_custs")""")
    MemoryHub.drop("join_out")
    eng.create(Rule.graph("g2",
      """{"nodes": {
        |  "o": {"type":"source", "stream":"gorders"},
        |  "c": {"type":"source", "stream":"gcusts"},
        |  "j": {"type":"operator", "op":"join", "on":"l.cid = r.cid", "how":"inner"},
        |  "p": {"type":"operator", "op":"project", "exprs":["oid", "cname"]},
        |  "out": {"type":"sink", "kind":"memory", "endpoint":"join_out"}},
        | "edges": {"o":["j"], "c":["j"], "j":["p"], "p":["out"]}}""".stripMargin))
    eng.start("g2")
    val out = MemoryHub.frame(spark, "join_out")
    assert(out.count() == 4)
    assert(out.where(col("cname") === "alice").count() == 2)
  }

  test("graph explain shows one fused Catalyst plan with pushdown") {
    val eng = new RuleEngine(spark)
    eng.createStream(
      s"""CREATE STREAM gev (event_id BIGINT, value DOUBLE) WITH
         | (TYPE="file", FORMAT="parquet", DATASOURCE="$sf/events.parquet")""".stripMargin)
    eng.create(Rule.graph("g3",
      """{"nodes": {
        |  "s": {"type":"source", "stream":"gev"},
        |  "f": {"type":"operator", "op":"filter", "expr":"event_id < 100"},
        |  "p": {"type":"operator", "op":"project", "exprs":["event_id"]},
        |  "o": {"type":"sink", "kind":"nop"}},
        | "edges": {"s":["f"], "f":["p"], "p":["o"]}}""".stripMargin))
    val plan = eng.explain("g3")
    // the filter node's predicate must reach the parquet scan
    assert(plan.contains("PushedFilters") && plan.contains("LessThan(event_id,100)"),
      s"graph node filter not pushed into scan:\n$plan")
  }

  test("aggregate node with a tumbling window") {
    val eng = new RuleEngine(spark)
    eng.createStream(
      s"""CREATE STREAM gwin (event_id BIGINT, ts TIMESTAMP, user_id BIGINT,
         |  event_type STRING, value DOUBLE, props STRING) WITH
         | (TYPE="memory", DATASOURCE="gwin_topic")""".stripMargin)
    MemoryHub.publish("gwin_topic", Tables(spark, sf, "events"))
    MemoryHub.drop("gwin_out")
    eng.create(Rule.graph("gwin_rule",
      """{"nodes": {
        |  "s": {"type":"source", "stream":"gwin"},
        |  "agg": {"type":"operator", "op":"aggregate", "windowTs":"ts",
        |          "windowSize":"60 seconds", "groupBy":["event_type"],
        |          "aggs":["count(*) as n"]},
        |  "o": {"type":"sink", "kind":"memory", "endpoint":"gwin_out"}},
        | "edges": {"s":["agg"], "agg":["o"]}}""".stripMargin))
    eng.start("gwin_rule")
    val out = MemoryHub.frame(spark, "gwin_out")
    // same cardinality as the verified q_win_tumble aggregation
    val expected = SparkEntry.queries("q_win_tumble")(spark, sf).count()
    assert(out.count() == expected)
  }

  test("window node: tumbling/hopping/session compile to the same agg as the DataFrame API") {
    val eng = new RuleEngine(spark)
    eng.createStream(
      s"""CREATE STREAM gwn (event_id BIGINT, ts TIMESTAMP, user_id BIGINT,
         |  event_type STRING, value DOUBLE, props STRING) WITH
         | (TYPE="memory", DATASOURCE="gwn_topic")""".stripMargin)
    MemoryHub.publish("gwn_topic", Tables(spark, sf, "events"))
    val ev = Tables(spark, sf, "events")

    def run(winProps: String, out: String): Array[String] = {
      MemoryHub.drop(out)
      eng.create(Rule.graph(s"gr_$out",
        s"""{"nodes": {
           |  "s":   {"type":"source", "stream":"gwn"},
           |  "win": {"type":"operator", "op":"window", $winProps},
           |  "agg": {"type":"operator", "op":"aggregate", "groupBy":["event_type"],
           |          "aggs":["count(*) as n", "round(sum(value), 2) as sv"]},
           |  "p":   {"type":"operator", "op":"project",
           |          "exprs":["w.start as ws", "event_type", "n", "sv"]},
           |  "o":   {"type":"sink", "kind":"memory", "endpoint":"$out"}},
           | "edges": {"s":["win"], "win":["agg"], "agg":["p"], "p":["o"]}}""".stripMargin))
      eng.start(s"gr_$out")
      MemoryHub.frame(spark, out).collect().map(_.toString).sorted
    }

    // tumbling: reference props {type, unit, size} (graph/node.go Window)
    val tum = run(""""windowType":"tumblingwindow", "unit":"ss", "size":3600, "ts":"ts"""", "gwn_tum")
    val tumExp = ev.groupBy(window(col("ts"), "3600 seconds").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sv"))
      .select(col("w.start").as("ws"), col("event_type"), col("n"), col("sv"))
      .collect().map(_.toString).sorted
    assert(tum.toSeq == tumExp.toSeq && tum.nonEmpty)

    // hopping: interval < size → overlapping windows
    val hop = run(""""windowType":"hoppingwindow", "unit":"mi", "size":120, "interval":60, "ts":"ts"""", "gwn_hop")
    val hopExp = ev.groupBy(window(col("ts"), "120 minutes", "60 minutes").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sv"))
      .select(col("w.start").as("ws"), col("event_type"), col("n"), col("sv"))
      .collect().map(_.toString).sorted
    assert(hop.toSeq == hopExp.toSeq && hop.length > tum.length)

    // session: interval is the gap timeout
    val ses = run(""""windowType":"sessionwindow", "unit":"ss", "size":7200, "interval":3600, "ts":"ts"""", "gwn_ses")
    val sesExp = ev.groupBy(session_window(col("ts"), "3600 seconds").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sv"))
      .select(col("w.start").as("ws"), col("event_type"), col("n"), col("sv"))
      .collect().map(_.toString).sorted
    assert(ses.toSeq == sesExp.toSeq && ses.nonEmpty)
  }

  test("window node validation: reference parseWindow rules, consumer restriction") {
    val eng = new RuleEngine(spark)
    eng.createStream(
      s"""CREATE STREAM gwv (ts TIMESTAMP, value DOUBLE) WITH
         | (TYPE="memory", DATASOURCE="gwv_topic")""".stripMargin)
    MemoryHub.publish("gwv_topic",
      Tables(spark, sf, "events").select("ts", "value"))
    def bad(id: String, winProps: String, edges: String =
        """{"s":["win"], "win":["agg"], "agg":["o"]}"""): Unit = {
      eng.create(Rule.graph(id,
        s"""{"nodes": {
           |  "s":   {"type":"source", "stream":"gwv"},
           |  "win": {"type":"operator", "op":"window", $winProps},
           |  "agg": {"type":"operator", "op":"aggregate", "aggs":["count(*) as n"]},
           |  "f":   {"type":"operator", "op":"filter", "expr":"1=1"},
           |  "o":   {"type":"sink", "kind":"nop"}},
           | "edges": $edges}""".stripMargin))
      intercept[IllegalArgumentException](eng.start(id))
    }
    // hopping interval must be in (0, size]; sliding/count are rejected
    bad("wv1", """"windowType":"hoppingwindow", "unit":"ss", "size":10, "ts":"ts"""")
    bad("wv2", """"windowType":"hoppingwindow", "unit":"ss", "size":10, "interval":20, "ts":"ts"""")
    bad("wv3", """"windowType":"slidingwindow", "unit":"ss", "size":10, "ts":"ts"""")
    bad("wv4", """"windowType":"countwindow", "size":10, "ts":"ts"""")
    bad("wv5", """"windowType":"tumblingwindow", "unit":"year", "size":1, "ts":"ts"""")
    // a window may only feed an aggregate
    bad("wv6", """"windowType":"tumblingwindow", "unit":"ss", "size":10, "ts":"ts"""",
      """{"s":["win"], "win":["f"], "f":["o"]}""")
  }

  test("streaming graph: watermark + window nodes gate and aggregate event time") {
    val dir = tempDir("graft_graph_wm")
    val ckpt = tempDir("graft_graph_wm_ckpt")
    Files.write(dir.resolve("a.json"),
      Seq("""{"device":"a","temp":30,"ts":"2024-01-01T10:00:05"}""",
          """{"device":"b","temp":40,"ts":"2024-01-01T10:00:15"}""",
          """{"device":"c","temp":50,"ts":"2024-01-01T10:00:20"}""")
        .mkString("\n").getBytes)
    val eng = new RuleEngine(spark)
    eng.createStream(
      s"""CREATE STREAM gwm (device STRING, temp BIGINT, ts TIMESTAMP) WITH
         | (TYPE="file", FORMAT="json", DATASOURCE="$dir")""".stripMargin)
    MemoryHub.drop("gwm_out")
    val graphJson =
      """{"nodes": {
        |  "s":   {"type":"source", "stream":"gwm"},
        |  "wm":  {"type":"operator", "op":"watermark", "ts":"ts",
        |          "delay":"1 seconds", "emitters":["s"]},
        |  "win": {"type":"operator", "op":"window",
        |          "windowType":"tumblingwindow", "unit":"ss", "size":60, "ts":"ts"},
        |  "agg": {"type":"operator", "op":"aggregate",
        |          "aggs":["count(*) as n", "sum(temp) as total"]},
        |  "p":   {"type":"operator", "op":"project", "exprs":["w.start as ws", "n", "total"]},
        |  "o":   {"type":"sink", "kind":"memory", "endpoint":"gwm_out"}},
        | "edges": {"s":["wm"], "wm":["win"], "win":["agg"], "agg":["p"], "p":["o"]}}""".stripMargin
    eng.create(Rule.graph("gwm_rule", graphJson,
      streaming = true, checkpointDir = Some(ckpt.toString)))
    eng.start("gwm_rule")
    try {
      eng.processAllAvailable("gwm_rule")
      // append mode: the 10:00 window can't emit until the watermark
      // passes its end; push it with a later event
      Files.write(dir.resolve("b.json"),
        """{"device":"d","temp":60,"ts":"2024-01-01T10:02:30"}""".getBytes)
      eng.processAllAvailable("gwm_rule")
      val rows = MemoryHub.frame(spark, "gwm_out").collect()
      assert(rows.length == 1, rows.mkString(","))
      assert(rows(0).getLong(1) == 3 && rows(0).getLong(2) == 120, rows(0).toString)
    } finally eng.stop("gwm_rule")

    // the same DAG in batch mode aggregates every window, no gating
    MemoryHub.drop("gwm_out")
    eng.create(Rule.graph("gwm_batch", graphJson))
    eng.start("gwm_batch")
    val batch = MemoryHub.frame(spark, "gwm_out").orderBy("ws").collect()
    assert(batch.length == 2, batch.mkString(","))
    assert(batch(0).getLong(1) == 3 && batch(0).getLong(2) == 120)
    assert(batch(1).getLong(1) == 1 && batch(1).getLong(2) == 60)
  }

  test("streaming graph rule delivers incrementally") {
    val dir = tempDir("graft_graph_stream")
    val ckpt = tempDir("graft_graph_ckpt")
    Files.write(dir.resolve("a.json"), """{"device":"a","temp":30}""".getBytes)
    val eng = new RuleEngine(spark)
    eng.createStream(
      s"""CREATE STREAM gs (device STRING, temp BIGINT) WITH
         | (TYPE="file", FORMAT="json", DATASOURCE="$dir")""".stripMargin)
    MemoryHub.drop("gs_out"); MemoryHub.drop("gs_out2")
    def graph(mode1: String, mode2: String): String =
      s"""{"nodes": {
        |  "s": {"type":"source", "stream":"gs"},
        |  "f": {"type":"operator", "op":"filter", "expr":"temp > 20"},
        |  "o": {"type":"sink", "kind":"memory", "endpoint":"gs_out", "outputMode":"$mode1"},
        |  "o2": {"type":"sink", "kind":"memory", "endpoint":"gs_out2", "outputMode":"$mode2"}},
        | "edges": {"s":["f"], "f":["o", "o2"]}}""".stripMargin
    eng.create(Rule.graph("gstream", graph("append", "append"),
      streaming = true, checkpointDir = Some(ckpt.toString)))
    eng.start("gstream")
    try {
      // two sinks on one node read one frame: one query feeds both
      assert(spark.streams.active.map(_.name).filter(_.startsWith("gstream")).toSeq ==
        Seq("gstream_0"))
      eng.processAllAvailable("gstream")
      assert(MemoryHub.frame(spark, "gs_out").count() == 1)
      Files.write(dir.resolve("b.json"),
        """{"device":"b","temp":40}
          |{"device":"c","temp":5}""".stripMargin.getBytes)
      eng.processAllAvailable("gstream")
      assert(MemoryHub.frame(spark, "gs_out").count() == 2) // temp 5 filtered
      assert(MemoryHub.frame(spark, "gs_out2").collect().toSet ==
        MemoryHub.frame(spark, "gs_out").collect().toSet)
    } finally eng.stop("gstream")
    // sinks on one frame that disagree on the output mode fail the start
    eng.create(Rule.graph("gmixed", graph("append", "update"), streaming = true))
    val err = intercept[IllegalArgumentException](eng.start("gmixed"))
    assert(err.getMessage.contains("append") && err.getMessage.contains("update"), err.getMessage)
    assert(eng.status("gmixed").state.isInstanceOf[RuleState.Failed])
    assert(!spark.streams.active.exists(_.name.startsWith("gmixed")))
  }

  test("switch node routes rows to branches; stopAtFirstMatch makes them disjoint") {
    val dir = tempDir("graft_switch_in")
    Files.write(dir.resolve("in.json"),
      Seq("""{"device":"d1","temp":30}""", """{"device":"d2","temp":15}""",
          """{"device":"d3","temp":40}""", """{"device":"d4","temp":5}""")
        .mkString("\n").getBytes)
    val eng = new RuleEngine(spark)
    eng.createStream(
      s"""CREATE STREAM swsensor (device STRING, temp BIGINT) WITH
         | (TYPE="file", FORMAT="json", DATASOURCE="$dir")""".stripMargin)
    MemoryHub.drop("sw_hot"); MemoryHub.drop("sw_rest")
    eng.create(Rule.graph("gsw",
      """{"nodes": {
        |  "src": {"type":"source", "stream":"swsensor"},
        |  "sw":  {"type":"operator", "op":"switch",
        |          "cases":["temp > 20", "temp > 0"]},
        |  "hot": {"type":"sink", "kind":"memory", "endpoint":"sw_hot"},
        |  "rest":{"type":"sink", "kind":"memory", "endpoint":"sw_rest"}},
        | "edges": {"src":["sw"], "sw":["hot","rest"]}}""".stripMargin))
    eng.start("gsw")
    val hot = MemoryHub.frame(spark, "sw_hot").select("device").collect().map(_.getString(0)).sorted
    val rest = MemoryHub.frame(spark, "sw_rest").select("device").collect().map(_.getString(0)).sorted
    // second case overlaps the first, but stopAtFirstMatch (default)
    // excludes rows the first branch already took
    assert(hot.toSeq == Seq("d1", "d3"), hot.mkString(","))
    assert(rest.toSeq == Seq("d2", "d4"), rest.mkString(","))
    // stopAtFirstMatch=false duplicates overlapping rows to both branches
    MemoryHub.drop("sw_all1"); MemoryHub.drop("sw_all2")
    eng.create(Rule.graph("gsw2",
      """{"nodes": {
        |  "src": {"type":"source", "stream":"swsensor"},
        |  "sw":  {"type":"operator", "op":"switch", "stopAtFirstMatch": false,
        |          "cases":["temp > 20", "temp > 0"]},
        |  "a": {"type":"sink", "kind":"memory", "endpoint":"sw_all1"},
        |  "b": {"type":"sink", "kind":"memory", "endpoint":"sw_all2"}},
        | "edges": {"src":["sw"], "sw":["a","b"]}}""".stripMargin))
    eng.start("gsw2")
    assert(MemoryHub.frame(spark, "sw_all1").count() == 2)
    assert(MemoryHub.frame(spark, "sw_all2").count() == 4)
    // streaming: each branch is its own frame, so its own query
    MemoryHub.drop("sws_hot"); MemoryHub.drop("sws_rest")
    eng.create(Rule.graph("gsw_stream",
      """{"nodes": {
        |  "src": {"type":"source", "stream":"swsensor"},
        |  "sw":  {"type":"operator", "op":"switch", "cases":["temp > 20", "temp > 0"]},
        |  "hot": {"type":"sink", "kind":"memory", "endpoint":"sws_hot"},
        |  "rest":{"type":"sink", "kind":"memory", "endpoint":"sws_rest"}},
        | "edges": {"src":["sw"], "sw":["hot","rest"]}}""".stripMargin,
      streaming = true, checkpointDir = Some(tempDir("graft_switch_ck").toString)))
    eng.start("gsw_stream")
    try {
      assert(spark.streams.active.map(_.name).filter(_.startsWith("gsw_stream")).sorted.toSeq ==
        Seq("gsw_stream_0", "gsw_stream_1"))
      eng.processAllAvailable("gsw_stream")
      def devices(topic: String) =
        MemoryHub.frame(spark, topic).select("device").collect().map(_.getString(0)).sorted.toSeq
      assert(devices("sws_hot") == Seq("d1", "d3") && devices("sws_rest") == Seq("d2", "d4"))
    } finally eng.stop("gsw_stream")
  }

  test("malformed graphs fail loudly") {
    val eng = new RuleEngine(spark)
    eng.create(Rule.graph("bad1", """{"nodes": {"x": {"type":"operator", "op":"filter", "expr":"1=1"}}, "edges": {}}"""))
    intercept[IllegalArgumentException](eng.start("bad1"))
    eng.create(Rule.graph("bad2", """{"nodes": {"s": {"type":"sink", "kind":"nop"}}, "edges": {}}"""))
    intercept[IllegalArgumentException](eng.start("bad2"))
  }

  test("reference JSON shape runs verbatim: nodeType/props, topo.edges, rule wrapper") {
    val dir = tempDir("graft_graph_ref")
    Files.write(dir.resolve("in.json"),
      Seq("""{"device":"a","humidity":40}""", """{"device":"b","humidity":20}""",
          """{"device":"c","humidity":55}""").mkString("\n").getBytes)
    val eng = new RuleEngine(spark)
    eng.createStream(
      s"""CREATE STREAM refstream (device STRING, humidity BIGINT) WITH
         | (TYPE="file", FORMAT="json", DATASOURCE="$dir")""".stripMargin)
    MemoryHub.drop("ref_out")
    // the reference's documented rule shape (graph_rule.md), verbatim:
    // rule wrapper + graph + topo.edges + nodeType/props nodes
    eng.create(Rule.graph("gref1",
      """{
        |  "id": "rule1",
        |  "graph": {
        |    "nodes": {
        |      "demo": {"type":"source", "nodeType":"mqtt",
        |               "props": {"sourceType":"stream", "sourceName":"refstream"}},
        |      "humidityFilter": {"type":"operator", "nodeType":"filter",
        |               "props": {"expr":"humidity > 30"}},
        |      "pick": {"type":"operator", "nodeType":"pick",
        |               "props": {"fields":["device"]}},
        |      "out": {"type":"sink", "nodeType":"memory",
        |              "props": {"topic":"ref_out"}}},
        |    "topo": {
        |      "sources": ["demo"],
        |      "edges": {"demo":["humidityFilter"], "humidityFilter":["pick"], "pick":["out"]}}
        |  }
        |}""".stripMargin))
    eng.start("gref1")
    val rows = MemoryHub.frame(spark, "ref_out")
    assert(rows.columns.toSeq == Seq("device"))
    assert(rows.collect().map(_.getString(0)).sorted.toSeq == Seq("a", "c"))
  }

  test("function node adds a field named after the function") {
    val eng = new RuleEngine(spark)
    MemoryHub.publish("g_fn_in",
      spark.createDataFrame(Seq(("d1", 16L))).toDF("device", "temp"))
    eng.createStream("""CREATE TABLE gfn (device STRING, temp BIGINT) WITH (TYPE="memory", DATASOURCE="g_fn_in")""")
    MemoryHub.drop("fn_out")
    eng.create(Rule.graph("gfn1",
      """{"nodes": {
        |  "src": {"type":"source", "stream":"gfn"},
        |  "f":   {"type":"operator", "nodeType":"function", "props": {"expr":"sqrt(temp)"}},
        |  "out": {"type":"sink", "kind":"memory", "endpoint":"fn_out"}},
        | "edges": {"src":["f"], "f":["out"]}}""".stripMargin))
    eng.start("gfn1")
    val row = MemoryHub.frame(spark, "fn_out").select("device", "temp", "sqrt").first()
    assert(row.getDouble(2) == 4.0)
  }

  test("groupby + aggfunc compose the reference's split aggregation, window key included") {
    val eng = new RuleEngine(spark)
    MemoryHub.publish("g_ga_in", spark.createDataFrame(Seq(
      ("d1", 10L, java.sql.Timestamp.valueOf("2024-01-01 00:00:05")),
      ("d1", 20L, java.sql.Timestamp.valueOf("2024-01-01 00:00:07")),
      ("d2", 30L, java.sql.Timestamp.valueOf("2024-01-01 00:01:05")),
      ("d1", 40L, java.sql.Timestamp.valueOf("2024-01-01 00:01:07"))))
      .toDF("device", "temp", "ts"))
    eng.createStream("""CREATE TABLE gga (device STRING, temp BIGINT, ts TIMESTAMP) WITH (TYPE="memory", DATASOURCE="g_ga_in")""")
    MemoryHub.drop("ga_out")
    eng.create(Rule.graph("gga1",
      """{"nodes": {
        |  "src": {"type":"source", "stream":"gga"},
        |  "win": {"type":"operator", "nodeType":"window",
        |          "props": {"windowType":"tumblingwindow", "unit":"mi", "size":1, "ts":"ts"}},
        |  "grp": {"type":"operator", "nodeType":"groupby", "props": {"dimensions":["device"]}},
        |  "agg": {"type":"operator", "nodeType":"aggfunc", "props": {"expr":"sum(temp) as total"}},
        |  "out": {"type":"sink", "kind":"memory", "endpoint":"ga_out"}},
        | "edges": {"src":["win"], "win":["grp"], "grp":["agg"], "agg":["out"]}}""".stripMargin))
    eng.start("gga1")
    val out = MemoryHub.frame(spark, "ga_out")
      .selectExpr("w.start as ws", "device", "total").orderBy("ws", "device").collect()
    assert(out.map(r => (r.getString(1), r.getLong(2))).toSeq ==
      Seq(("d1", 30L), ("d1", 40L), ("d2", 30L)))
    // ungrouped aggfunc aggregates the whole input
    MemoryHub.drop("ga_out2")
    eng.create(Rule.graph("gga2",
      """{"nodes": {
        |  "src": {"type":"source", "stream":"gga"},
        |  "agg": {"type":"operator", "nodeType":"aggfunc", "props": {"expr":"count(*) as n"}},
        |  "out": {"type":"sink", "kind":"memory", "endpoint":"ga_out2"}},
        | "edges": {"src":["agg"], "agg":["out"]}}""".stripMargin))
    eng.start("gga2")
    assert(MemoryHub.frame(spark, "ga_out2").first().getLong(0) == 4L)
  }

  test("inline source node: nodeType + stream props, no pre-registered stream") {
    val dir = tempDir("graft_graph_inline")
    Files.write(dir.resolve("in.json"),
      Seq("""{"k":"x","v":1}""", """{"k":"y","v":2}""").mkString("\n").getBytes)
    val eng = new RuleEngine(spark)
    MemoryHub.drop("inline_out")
    eng.create(Rule.graph("ginline1",
      s"""{"nodes": {
         |  "src": {"type":"source", "nodeType":"file",
         |          "props": {"datasource":"$dir", "format":"json"}},
         |  "out": {"type":"sink", "kind":"memory", "endpoint":"inline_out"}},
         | "edges": {"src":["out"]}}""".stripMargin))
    eng.start("ginline1")
    assert(MemoryHub.frame(spark, "inline_out").count() == 2)
  }

  test("groupby feeding a non-aggregation is rejected") {
    val eng = new RuleEngine(spark)
    MemoryHub.publish("g_bad_in",
      spark.createDataFrame(Seq(("a", 1L))).toDF("k", "v"))
    eng.createStream("""CREATE TABLE gbad (k STRING, v BIGINT) WITH (TYPE="memory", DATASOURCE="g_bad_in")""")
    eng.create(Rule.graph("gbad1",
      """{"nodes": {
        |  "src": {"type":"source", "stream":"gbad"},
        |  "grp": {"type":"operator", "nodeType":"groupby", "props": {"dimensions":["k"]}},
        |  "out": {"type":"sink", "kind":"nop"}},
        | "edges": {"src":["grp"], "grp":["out"]}}""".stripMargin))
    intercept[IllegalArgumentException](eng.start("gbad1"))
  }
}
