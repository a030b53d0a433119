package graft

import graft.sinks._
import graft.sources._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import java.nio.file.Files

/** Contract tests for §2.6 sources and §2.7 sinks: every format reads
  * back what was written, templates/batching shape payloads, stubs
  * record deliveries.
  */
class SourcesSinksSpec extends SparkSuite {

  test("file source reads json / csv / lines / parquet") {
    val dir = tempDir("graft_fs")
    Files.write(dir.resolve("a.json"), "{\"x\":1,\"y\":\"p\"}\n{\"x\":2,\"y\":\"q\"}".getBytes)
    val js = FileSource(s"$dir/a.json", "json").batch(spark)
    assert(js.count() == 2 && js.agg(sum("x")).first().getLong(0) == 3)

    Files.write(dir.resolve("b.csv"), "x,y\n3,r\n4,s".getBytes)
    val cs = FileSource(s"$dir/b.csv", "csv").batch(spark)
    assert(cs.count() == 2 && cs.columns.toSeq == Seq("x", "y"))

    Files.write(dir.resolve("c.txt"), "line one\nline two\nline three".getBytes)
    val ls = FileSource(s"$dir/c.txt", "lines").batch(spark)
    assert(ls.count() == 3 && ls.columns.toSeq == Seq("value"))

    val pq = FileSource(s"$sf/nation.parquet", "parquet").batch(spark)
    assert(pq.count() == 25)
  }

  test("file source streaming picks up files with declared schema") {
    val dir = tempDir("graft_fstream")
    Files.write(dir.resolve("a.json"), "{\"x\":1}\n{\"x\":2}".getBytes)
    val src = FileSource(dir.toString, "json", Some(StructType.fromDDL("x bigint")))
    val q = src.stream(spark).writeStream.format("memory")
      .queryName("fstream_out").outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table("fstream_out").count() == 2)
      Files.write(dir.resolve("b.json"), "{\"x\":3}".getBytes)
      q.processAllAvailable()
      assert(spark.table("fstream_out").count() == 3)
    } finally q.stop()
  }

  test("binary file source: whole-file payloads feed the multimodal path") {
    val dir = tempDir("graft_bin")
    Files.write(dir.resolve("img1.bin"), Array.tabulate[Byte](300)(_.toByte))
    Files.write(dir.resolve("img2.bin"), Array.tabulate[Byte](64)(i => (i * 3).toByte))
    val df = FileSource(dir.toString, "binary").batch(spark)
    assert(df.count() == 2)
    assert(df.columns.contains("content") && df.columns.contains("length"))
    assert(df.agg(sum("length")).first().getLong(0) == 364)
    // plug into Multimodal: bytes → features without any shuffle
    import graft.operators.Multimodal
    val feats = Multimodal.decodeFeatures(
      Multimodal.asAssets(df.withColumn("id", monotonically_increasing_id()),
        "id", "content", kind = "image"))
    assert(feats.count() == 2)
  }

  test("memory source/sink round-trip via MemoryHub") {
    MemoryHub.drop("t1")
    MemoryHub.publish("t1", spark.range(5).toDF("v"))
    val df = MemorySource("t1").batch(spark)
    assert(df.count() == 5)
    MemorySink("t2", Map("fields" -> "v")).writeBatch(df.withColumn("junk", lit(1)))
    assert(MemorySource("t2").batch(spark).columns.toSeq == Seq("v"))
    MemoryHub.drop("t1"); MemoryHub.drop("t2")
  }

  test("simulator source replays seed rows deterministically") {
    val seeds = Seq("""{"temp":20}""", """{"temp":30}""")
    val sim = SimulatorSource(seeds, 100, StructType.fromDDL("temp bigint"))
    val b = sim.batch(spark)
    assert(b.agg(sum("temp")).first().getLong(0) == 50)
  }

  test("nexmark generator: deterministic, parallel, valid ranges") {
    val src = NexmarkBidSource(count = 5000)
    val df = src.batch(spark).cache()
    assert(df.count() == 5000)
    assert(df.where(col("price") < 100 || col("price") > 10000).count() == 0)
    assert(df.where(col("auction") < 1000).count() == 0)
    // deterministic: same seed → same content
    val again = src.batch(spark)
    assert(df.exceptAll(again).count() == 0)
    assert(df.rdd.getNumPartitions > 1)
    df.unpersist()
  }

  test("nexmark q4-style rule: bids joined to auctions, max price per category") {
    import graft.rules._
    val eng = new RuleEngine(spark)
    eng.catalog.register(StreamDef("nx_bids", NexmarkSource("bid", count = 2000)))
    eng.catalog.register(StreamDef("nx_auctions",
      NexmarkSource("auction", count = 997), isTable = true))
    MemoryHub.drop("nx_q4")
    eng.create(Rule("nxq4",
      """SELECT a.category, count(*) AS n, max(b.price) AS top_price
        |FROM nx_bids b JOIN nx_auctions a ON b.auction = a.id
        |GROUP BY a.category""".stripMargin,
      Seq(MemorySink("nx_q4"))))
    eng.start("nxq4")
    val out = MemoryHub.frame(spark, "nx_q4")
    assert(out.count() == 10) // 10 categories
    assert(out.agg(sum("n")).first().getLong(0) == 2000) // every bid joins
  }

  test("http_pull source fetches and decodes a live localhost endpoint") {
    import com.sun.net.httpserver.HttpServer
    val server = HttpServer.create(
      new java.net.InetSocketAddress(java.net.InetAddress.getLoopbackAddress, 0), 0)
    server.createContext("/data", ex => {
      val body = """[{"device":"a","temp":20},{"device":"b","temp":30}]""".getBytes
      ex.sendResponseHeaders(200, body.length)
      ex.getResponseBody.write(body); ex.close()
    })
    server.start()
    try {
      val src = HttpPullSource(
        s"http://127.0.0.1:${server.getAddress.getPort}/data",
        StructType.fromDDL("device string, temp bigint"))
      val df = src.batch(spark)
      assert(df.count() == 2 && df.agg(sum("temp")).first().getLong(0) == 50)
    } finally server.stop(0)
  }

  test("http_pull oauth: token fetch, bearer header template, mid-stream refresh") {
    import com.sun.net.httpserver.HttpServer
    import java.util.concurrent.CopyOnWriteArrayList
    val issued = new java.util.concurrent.atomic.AtomicInteger(0)
    val dataAuths = new CopyOnWriteArrayList[String]()
    val refreshBodies = new CopyOnWriteArrayList[String]()
    val server = HttpServer.create(
      new java.net.InetSocketAddress(java.net.InetAddress.getLoopbackAddress, 0), 0)
    server.setExecutor(java.util.concurrent.Executors.newCachedThreadPool())
    def tokenJson(): Array[Byte] = {
      val n = issued.incrementAndGet()
      s"""{"token":"tk$n","refresh_token":"rk$n"}""".getBytes
    }
    server.createContext("/token", ex => {
      val b = tokenJson()
      ex.sendResponseHeaders(200, b.length); ex.getResponseBody.write(b); ex.close()
    })
    server.createContext("/refresh", ex => {
      refreshBodies.add(new String(ex.getRequestBody.readAllBytes()))
      val b = tokenJson()
      ex.sendResponseHeaders(200, b.length); ex.getResponseBody.write(b); ex.close()
    })
    server.createContext("/data", ex => {
      dataAuths.add(ex.getRequestHeaders.getFirst("Authorization"))
      val b = """[{"device":"a","temp":20}]""".getBytes
      ex.sendResponseHeaders(200, b.length); ex.getResponseBody.write(b); ex.close()
    })
    server.start()
    try {
      val base = s"http://127.0.0.1:${server.getAddress.getPort}"
      val src = HttpPullSource(s"$base/data",
        StructType.fromDDL("device string, temp bigint"),
        options = Map(
          "headers" -> """{"Authorization": "Bearer {{.token}}"}""",
          "oauth.access.url" -> s"$base/token",
          "oauth.access.body" -> """{"client":"graft"}""",
          "oauth.access.expire" -> "1",
          "oauth.refresh.url" -> s"$base/refresh",
          "oauth.refresh.body" -> """{"refresh_token":"{{.refresh_token}}"}"""))
      assert(src.batch(spark).count() == 1)
      assert(dataAuths.get(0) == "Bearer tk1", "first pull authorized with the fetched token")
      Thread.sleep(700) // 2 × 0.7 s elapsed > 1 s expire → renew after next send
      assert(src.batch(spark).count() == 1)
      assert(dataAuths.get(1) == "Bearer tk1", "renewal happens AFTER the send, like the reference")
      assert(refreshBodies.size() == 1, "refresh endpoint hit once")
      assert(refreshBodies.get(0) == """{"refresh_token":"rk1"}""",
        "refresh body template filled from the token map")
      assert(src.batch(spark).count() == 1)
      assert(dataAuths.get(2) == "Bearer tk2", "next pull rides the refreshed token")
    } finally server.stop(0)
  }

  test("oauth: a failing refresh endpoint is logged, not fatal; old token kept") {
    import com.sun.net.httpserver.HttpServer
    import java.util.concurrent.CopyOnWriteArrayList
    val dataAuths = new CopyOnWriteArrayList[String]()
    val server = HttpServer.create(
      new java.net.InetSocketAddress(java.net.InetAddress.getLoopbackAddress, 0), 0)
    server.setExecutor(java.util.concurrent.Executors.newCachedThreadPool())
    server.createContext("/token", ex => {
      val b = """{"token":"tkA"}""".getBytes
      ex.sendResponseHeaders(200, b.length); ex.getResponseBody.write(b); ex.close()
    })
    server.createContext("/refresh", ex => { // transient outage: always 500
      ex.sendResponseHeaders(500, 4); ex.getResponseBody.write("boom".getBytes); ex.close()
    })
    server.createContext("/data", ex => {
      dataAuths.add(ex.getRequestHeaders.getFirst("Authorization"))
      val b = """[{"device":"a","temp":20}]""".getBytes
      ex.sendResponseHeaders(200, b.length); ex.getResponseBody.write(b); ex.close()
    })
    server.start()
    try {
      val base = s"http://127.0.0.1:${server.getAddress.getPort}"
      val src = HttpPullSource(s"$base/data",
        StructType.fromDDL("device string, temp bigint"),
        options = Map(
          "headers" -> """{"Authorization": "Bearer {{.token}}"}""",
          "oauth.access.url" -> s"$base/token",
          "oauth.access.expire" -> "1",
          "oauth.refresh.url" -> s"$base/refresh"))
      assert(src.batch(spark).count() == 1)
      Thread.sleep(700) // past half-expiry → renewal due after next send
      // the pull whose trailing renewal fails must still SUCCEED (the
      // reference warns and keeps the send result, client.go:240-247)
      assert(src.batch(spark).count() == 1)
      // and the old token stays in use on the next pull
      assert(src.batch(spark).count() == 1)
      assert(dataAuths.toArray.toSeq == Seq.fill(3)("Bearer tkA"))
    } finally server.stop(0)
  }

  test("rest sink posts payloads over live HTTP with oauth headers") {
    import com.sun.net.httpserver.HttpServer
    import java.util.concurrent.CopyOnWriteArrayList
    val posts = new CopyOnWriteArrayList[(String, String)]()
    val server = HttpServer.create(
      new java.net.InetSocketAddress(java.net.InetAddress.getLoopbackAddress, 0), 0)
    server.setExecutor(java.util.concurrent.Executors.newCachedThreadPool())
    server.createContext("/token", ex => {
      val b = """{"token":"sink-tok"}""".getBytes
      ex.sendResponseHeaders(200, b.length); ex.getResponseBody.write(b); ex.close()
    })
    server.createContext("/ingest", ex => {
      posts.add((ex.getRequestHeaders.getFirst("Authorization"),
        new String(ex.getRequestBody.readAllBytes())))
      ex.sendResponseHeaders(200, 2); ex.getResponseBody.write("ok".getBytes); ex.close()
    })
    server.start()
    try {
      import spark.implicits._
      val base = s"http://127.0.0.1:${server.getAddress.getPort}"
      graft.sinks.ConnectorSink("rest", s"$base/ingest", Map(
        "headers" -> """{"Authorization": "Bearer {{.token}}"}""",
        "oauth.access.url" -> s"$base/token"))
        .writeBatch(Seq((1L, "x")).toDF("id", "name").repartition(1))
      assert(posts.size() == 1)
      assert(posts.get(0)._1 == "Bearer sink-tok")
      assert(posts.get(0)._2 == """{"id":1,"name":"x"}""")
    } finally server.stop(0)
  }

  test("http_pull incremental pulls, body-code envelope, response decompression") {
    import com.sun.net.httpserver.HttpServer
    import java.util.concurrent.atomic.AtomicInteger
    val server = HttpServer.create(
      new java.net.InetSocketAddress(java.net.InetAddress.getLoopbackAddress, 0), 0)
    server.setExecutor(java.util.concurrent.Executors.newCachedThreadPool())
    val pulls = new AtomicInteger
    server.createContext("/inc", ex => {
      // same body for the first two pulls, then a new one
      val b = (if (pulls.incrementAndGet() <= 2) """{"k":1}""" else """{"k":2}""").getBytes
      ex.sendResponseHeaders(200, b.length); ex.getResponseBody.write(b); ex.close()
    })
    server.createContext("/codes_ok", ex => {
      val b = """[{"code":200,"k":"a"},{"code":204,"k":"b"}]""".getBytes
      ex.sendResponseHeaders(200, b.length); ex.getResponseBody.write(b); ex.close()
    })
    server.createContext("/codes_bad", ex => {
      val b = """[{"code":200,"k":"a"},{"code":500,"k":"b"}]""".getBytes
      ex.sendResponseHeaders(200, b.length); ex.getResponseBody.write(b); ex.close()
    })
    server.createContext("/gz", ex => {
      val b = graft.functions.Compression.compress("""{"k":9}""".getBytes, "gzip")
      ex.getResponseHeaders.set("Content-Encoding", "gzip")
      ex.sendResponseHeaders(200, b.length); ex.getResponseBody.write(b); ex.close()
    })
    server.createContext("/plain", ex => { // ignores the requested codec
      val b = """{"k":9}""".getBytes
      ex.sendResponseHeaders(200, b.length); ex.getResponseBody.write(b); ex.close()
    })
    server.start()
    try {
      val base = s"http://127.0.0.1:${server.getAddress.getPort}"
      val sch = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("k",
          org.apache.spark.sql.types.LongType)))

      // incremental: unchanged body → zero rows, changed body → rows
      // again (reference client.go:361-365 MD5 skip)
      val inc = HttpPullSource(s"$base/inc", sch,
        options = Map("incremental" -> "true"))
      assert(inc.batch(spark).count() == 1)
      assert(inc.batch(spark).count() == 0) // same body, skipped
      assert(inc.batch(spark).count() == 1) // body changed

      // responseType=body: per-payload code field gates the batch
      val schK = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("k",
          org.apache.spark.sql.types.StringType)))
      assert(HttpPullSource(s"$base/codes_ok", schK,
        options = Map("responseType" -> "body")).batch(spark).count() == 2)
      val err = intercept[java.io.IOException] {
        HttpPullSource(s"$base/codes_bad", schK,
          options = Map("responseType" -> "body")).batch(spark)
      }
      assert(err.getMessage.contains("code 500"))

      // compression: gzip body decompresses; a server that ignores the
      // codec (no Content-Encoding) is an error, not garbage rows
      assert(HttpPullSource(s"$base/gz", sch,
        options = Map("compression" -> "gzip")).batch(spark)
        .collect().head.getLong(0) == 9)
      intercept[java.io.IOException] {
        HttpPullSource(s"$base/plain", sch,
          options = Map("compression" -> "gzip")).batch(spark)
      }
    } finally server.stop(0)
  }

  test("rest sink bodyType: formdata multipart, none, binary+compression headers") {
    import com.sun.net.httpserver.HttpServer
    import java.util.concurrent.CopyOnWriteArrayList
    // (method, contentType, contentEncoding, body)
    val reqs = new CopyOnWriteArrayList[(String, String, String, Array[Byte])]()
    val server = HttpServer.create(
      new java.net.InetSocketAddress(java.net.InetAddress.getLoopbackAddress, 0), 0)
    server.setExecutor(java.util.concurrent.Executors.newCachedThreadPool())
    server.createContext("/up", ex => {
      reqs.add((ex.getRequestMethod,
        String.valueOf(ex.getRequestHeaders.getFirst("Content-Type")),
        String.valueOf(ex.getRequestHeaders.getFirst("Content-Encoding")),
        ex.getRequestBody.readAllBytes()))
      ex.sendResponseHeaders(200, 2); ex.getResponseBody.write("ok".getBytes); ex.close()
    })
    server.start()
    try {
      import spark.implicits._
      val base = s"http://127.0.0.1:${server.getAddress.getPort}/up"
      val df = Seq(("a", 21)).toDF("device", "temp").repartition(1)

      // formdata: payload rides a file part (reference httpx/http.go:
      // 81-105), scalar formData fields follow, boundary in the header
      graft.sinks.ConnectorSink("rest", base, Map(
        "bodyType" -> "formdata", "fileFieldName" -> "upload",
        "formData.tag" -> "hot", "formData.site" -> "b1")).writeBatch(df)
      val (_, fdType, _, fdBody) = reqs.get(0)
      assert(fdType.startsWith("multipart/form-data; boundary="))
      val boundary = fdType.split("boundary=")(1)
      val text = new String(fdBody, "UTF-8")
      val parts = text.split(java.util.regex.Pattern.quote(s"--$boundary"))
        .filterNot(p => p.trim.isEmpty || p.trim == "--")
      assert(parts.length == 3, s"expected file + 2 fields in:\n$text")
      // file part: configured field name, millis filename, the payload
      assert(parts(0).contains("""name="upload"; filename="""))
      assert(parts(0).matches("(?s).*filename=\"\\d+\".*"))
      assert(parts(0).contains("Content-Type: application/octet-stream"))
      assert(parts(0).contains("""{"device":"a","temp":21}"""))
      assert(parts(1).contains("""name="site"""") && parts(1).contains("b1"))
      assert(parts(2).contains("""name="tag"""") && parts(2).contains("hot"))
      assert(text.endsWith(s"--$boundary--\r\n"))

      // none: a bodiless request per row (GET default — client.go:146)
      graft.sinks.ConnectorSink("rest", base, Map("method" -> "GET")).writeBatch(df)
      val (nMethod, _, _, nBody) = reqs.get(1)
      assert(nMethod == "GET" && nBody.isEmpty)

      // binary + gzip: octet-stream type, Content-Encoding advertised
      // (reference rest_sink.go:118-130), body inflates to the payload
      graft.sinks.ConnectorSink("rest", base, Map(
        "bodyType" -> "binary", "compression" -> "gzip")).writeBatch(df)
      val (_, bType, bEnc, bBody) = reqs.get(2)
      assert(bType == "application/octet-stream" && bEnc == "gzip")
      assert(new String(graft.functions.Compression.decompress(bBody, "gzip"),
        "UTF-8") == """{"device":"a","temp":21}""")

      // text: plain content type, raw payload
      graft.sinks.ConnectorSink("rest", base, Map("bodyType" -> "text",
        "dataTemplate" -> "{{device}}:{{temp}}")).writeBatch(df)
      val (_, tType, _, tBody) = reqs.get(3)
      assert(tType == "text/plain" && new String(tBody, "UTF-8") == "a:21")

      // unknown bodyType fails, like the reference's InitConf
      intercept[org.apache.spark.SparkException] {
        graft.sinks.ConnectorSink("rest", base, Map("bodyType" -> "nope")).writeBatch(df)
      }
    } finally server.stop(0)
  }

  test("http lookup source: pull + key-equality + field prune (reference Lookup)") {
    import com.sun.net.httpserver.HttpServer
    val server = HttpServer.create(
      new java.net.InetSocketAddress(java.net.InetAddress.getLoopbackAddress, 0), 0)
    server.setExecutor(java.util.concurrent.Executors.newCachedThreadPool())
    server.createContext("/dim", ex => {
      val b = """[{"k":"a","v":1},{"k":"b","v":2},{"k":"a","v":3}]""".getBytes
      ex.sendResponseHeaders(200, b.length); ex.getResponseBody.write(b); ex.close()
    })
    server.start()
    try {
      val src = HttpLookupSource(
        s"http://127.0.0.1:${server.getAddress.getPort}/dim",
        StructType.fromDDL("k string, v bigint"))
      assert(src.batch(spark).count() == 3)
      val rows = src.lookup(spark, Seq("v"), Seq("k"), Seq("a"))
        .collect().map(_.getLong(0)).sorted.toSeq
      assert(rows == Seq(1L, 3L), "both k=a rows, pruned to v")
      assert(src.lookup(spark, Nil, Seq("k"), Seq("zzz")).isEmpty)
    } finally server.stop(0)
  }

  test("sse source reads data frames from a live event-stream endpoint") {
    import com.sun.net.httpserver.HttpServer
    val server = HttpServer.create(
      new java.net.InetSocketAddress(java.net.InetAddress.getLoopbackAddress, 0), 0)
    server.createContext("/events", ex => {
      val body = ("data: {\"sensor\":\"s1\",\"v\":1}\n\n" +
        "event: reading\ndata: {\"sensor\":\"s2\",\"v\":2}\n\n" +
        ": heartbeat comment\n\n" +
        "data: {\"sensor\":\"s3\",\"v\":3}\n\n").getBytes
      ex.getResponseHeaders.set("Content-Type", "text/event-stream")
      ex.sendResponseHeaders(200, body.length)
      ex.getResponseBody.write(body); ex.close()
    })
    server.start()
    try {
      val df = SseSource(
        s"http://127.0.0.1:${server.getAddress.getPort}/events",
        StructType.fromDDL("sensor string, v bigint")).batch(spark)
      assert(df.count() == 3 && df.agg(sum("v")).first().getLong(0) == 6)
    } finally server.stop(0)
  }

  test("http_push endpoint receives frames into the connector feed") {
    ConnectorFeed.clear("http_push", "tele")
    val ep = HttpPushEndpoint.start()
    try {
      val url = java.net.URI.create(s"http://127.0.0.1:${ep.port}/push/tele").toURL
      val c = url.openConnection().asInstanceOf[java.net.HttpURLConnection]
      c.setRequestMethod("POST"); c.setDoOutput(true)
      c.getOutputStream.write("""{"device":"x","temp":7}""".getBytes)
      assert(c.getResponseCode == 200)
      val df = ConnectorSource("http_push", "tele",
        StructType.fromDDL("device string, temp bigint")).batch(spark)
      assert(df.count() == 1 && df.first().getString(0) == "x")
    } finally ep.stop()
  }

  test("connector source decodes stub frames to the declared schema") {
    ConnectorFeed.clear("mqtt", "in/topic")
    ConnectorFeed.push("mqtt", "in/topic", """{"device":"a","temp":21}""", 1000L)
    ConnectorFeed.push("mqtt", "in/topic", """{"device":"b","temp":25}""", 2000L)
    val src = ConnectorSource("mqtt", "in/topic",
      StructType.fromDDL("device string, temp bigint"))
    val df = src.batch(spark)
    assert(df.columns.toSeq == Seq("device", "temp", "arrival_ts"))
    assert(df.agg(sum("temp")).first().getLong(0) == 46)
    intercept[IllegalArgumentException](ConnectorSource("carrier-pigeon", "x",
      StructType.fromDDL("a int")))
  }

  test("schemaless connector stream infers its schema from pushed frames") {
    ConnectorFeed.clear("mqtt", "schemaless/in")
    ConnectorFeed.push("mqtt", "schemaless/in", """{"device":"a","temp":21}""", 1000L)
    ConnectorFeed.push("mqtt", "schemaless/in", """{"device":"b","temp":25}""", 2000L)
    val d = graft.rules.Catalog.parseDdl(
      """CREATE STREAM sless2 () WITH (TYPE="mqtt", DATASOURCE="schemaless/in")""")
    val df = d.source.batch(spark)
    assert(df.columns.toSeq == Seq("device", "temp", "arrival_ts"))
    assert(df.agg(sum("temp")).first().getLong(0) == 46)
    // schemaless streaming works too (schema pinned at stream start)
    val q = d.source.stream(spark).writeStream.format("memory")
      .queryName("sless2_out").outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table("sless2_out").count() == 2)
      ConnectorFeed.push("mqtt", "schemaless/in", """{"device":"c","temp":9}""", 3000L)
      q.processAllAvailable()
      assert(spark.table("sless2_out").count() == 3)
    } finally q.stop()
    // schemaless requires at least one frame and json format
    ConnectorFeed.clear("mqtt", "schemaless/empty")
    intercept[IllegalArgumentException](
      ConnectorSource("mqtt", "schemaless/empty", new StructType()).batch(spark))
  }

  test("delimited codec: DDL round-trip through source decode and sink encode") {
    // source side: delimited frames decode positionally to the declared
    // schema (reference internal/converter/delimited)
    ConnectorFeed.clear("mqtt", "in/csvish")
    ConnectorFeed.push("mqtt", "in/csvish", "a|21|3.5", 1000L)
    ConnectorFeed.push("mqtt", "in/csvish", "b|25|", 2000L)
    val d = graft.rules.Catalog.parseDdl(
      """CREATE STREAM csvish (device STRING, temp BIGINT, v DOUBLE) WITH
        | (TYPE="mqtt", FORMAT="delimited", DELIMITER="|", DATASOURCE="in/csvish")""".stripMargin)
    val df = d.source.batch(spark)
    assert(df.columns.toSeq == Seq("device", "temp", "v", "arrival_ts"))
    assert(df.agg(sum("temp")).first().getLong(0) == 46)
    assert(df.where(col("device") === "b").first().isNullAt(2)) // empty field -> null
    // sink side: rows encode back to delimited frames
    ConnectorSink.clear("rest", "out/csvish")
    ConnectorSink("rest", "out/csvish",
      Map("format" -> "delimited", "delimiter" -> "|", "fields" -> "device,temp"))
      .writeBatch(df.where(col("device") === "a"))
    assert(ConnectorSink.sent("rest", "out/csvish") == Vector("a|21"))
  }

  test("delimited codec: null fields keep their position through the round trip") {
    // concat_ws drops null ARGUMENTS (value and separator), which would
    // shift every later field; encodeDelimited must coalesce first
    val frame = spark.sql("SELECT 1 AS a, CAST(NULL AS STRING) AS b, 'x' AS c")
      .select(Codecs.encodeDelimited(Seq(col("a"), col("b"), col("c")), "|").as("f"))
      .first().getString(0)
    assert(frame == "1||x", frame)
    val back = spark.sql(s"SELECT '$frame' AS f")
      .select(Codecs.decodeDelimited(col("f"),
        StructType.fromDDL("a BIGINT, b STRING, c STRING"), "|").as("m"))
      .select("m.*").first()
    assert(back.getLong(0) == 1 && back.isNullAt(1) && back.getString(2) == "x")
  }

  test("urlencoded codec tolerates duplicate keys and bad escapes") {
    val row = spark.sql("SELECT 'a=1&a=2&v=%zz&ok=fine' AS f")
      .select(Codecs.decodeUrlencoded(col("f"),
        StructType.fromDDL("a BIGINT, v STRING, ok STRING, missing STRING")).as("m"))
      .select("m.*").first()
    assert(row.getLong(0) == 1)      // first occurrence wins, no dup-key error
    assert(row.isNullAt(1))          // invalid %zz escape -> null, not a crash
    assert(row.getString(2) == "fine")
    assert(row.isNullAt(3))
  }

  test("urlencoded codec: decode matches by name, percent-decodes, encode escapes") {
    ConnectorFeed.clear("http_push", "form")
    ConnectorFeed.push("http_push", "form", "device=a%20b&temp=21&extra=zz", 1000L)
    ConnectorFeed.push("http_push", "form", "temp=4&device=plain", 2000L)
    val src = ConnectorSource("http_push", "form",
      StructType.fromDDL("device string, temp bigint, missing string"),
      Map("format" -> "urlencoded"))
    val rows = src.batch(spark).orderBy("arrival_ts").collect()
    assert(rows(0).getString(0) == "a b" && rows(0).getLong(1) == 21 && rows(0).isNullAt(2))
    assert(rows(1).getString(0) == "plain" && rows(1).getLong(1) == 4)
    // encode: spaces and reserved chars escape; nulls drop out
    ConnectorSink.clear("rest", "out/form")
    ConnectorSink("rest", "out/form", Map("format" -> "urlencoded"))
      .writeBatch(spark.sql("SELECT 'a b' AS device, 21 AS temp, CAST(NULL AS STRING) AS note"))
    assert(ConnectorSink.sent("rest", "out/form") == Vector("device=a+b&temp=21"))
    intercept[IllegalArgumentException](ConnectorSource("mqtt", "x",
      StructType.fromDDL("a int"), Map("format" -> "msgpack")))
  }

  test("reliable sink spools failed batches and redelivers in order") {
    val dir = tempDir("graft_resend")
    FlakySink.reset(failFirst = 2) // first two writeBatch calls throw
    val rs = ReliableSink(FlakySink(), dir.toString, maxCachedBatches = 10)
    rs.writeBatch(spark.range(0, 3).toDF("v"))   // fails -> spooled
    assert(rs.pendingBatches == 1 && FlakySink.delivered.isEmpty)
    rs.writeBatch(spark.range(3, 6).toDF("v"))   // replay fails -> both queued
    assert(rs.pendingBatches == 2)
    rs.writeBatch(spark.range(6, 9).toDF("v"))   // replays both, then live batch
    assert(rs.pendingBatches == 0)
    assert(FlakySink.delivered.toList == List(0L until 3L, 3L until 6L, 6L until 9L)
      .map(_.toList))
  }

  test("memory hub drop deletes the topic's spool directory") {
    MemoryHub.spool("hub_drop", spark.range(3).toDF("v"))
    val dir = new java.io.File(MemoryHub.spoolDir("hub_drop"))
    assert(dir.getName.startsWith("graft_hub_hub_drop_"))
    assert(dir.listFiles().exists(_.getName.endsWith(".parquet")))
    MemoryHub.drop("hub_drop")
    assert(!dir.exists())
    // a topic used again after drop gets a fresh spool
    assert(MemoryHub.spoolDir("hub_drop") != dir.toString)
    MemoryHub.drop("hub_drop")
  }

  test("memory hub append keeps a bounded plan over 100 appends") {
    MemoryHub.drop("hub_cap")
    for (i <- 0 until 100)
      MemoryHub.append("hub_cap", spark.range(i, i + 1).toDF("v"))
    val df = MemoryHub.frame(spark, "hub_cap")
    assert(df.count() == 100 && df.agg(sum("v")).first().getLong(0) == 4950)
    // without the collapse every 16 appends this union tree is ~100 deep
    def depth(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Int =
      1 + (if (p.children.isEmpty) 0 else p.children.map(depth).max)
    val d = depth(df.queryExecution.logical)
    assert(d < 30, s"append lineage not collapsed: depth $d")
    MemoryHub.drop("hub_cap")
  }

  test("reliable sink under streaming: failed batch redelivers next trigger, query survives") {
    val in = tempDir("graft_rel_in")
    val cache = tempDir("graft_rel_cache")
    val ckpt = tempDir("graft_rel_ck")
    Files.write(in.resolve("a.json"), """{"v":1}""".getBytes)
    FlakySink.reset(failFirst = 1)
    val rs = ReliableSink(FlakySink(), cache.toString)
    val q = rs.writeStream(
      FileSource(in.toString, "json",
        Some(StructType.fromDDL("v bigint"))).stream(spark),
      "rel_stream", checkpoint = Some(ckpt.toString))
    try {
      q.processAllAvailable()
      // first batch failed into the spool — the QUERY did not die
      assert(q.isActive && rs.pendingBatches == 1 && FlakySink.delivered.isEmpty)
      Files.write(in.resolve("b.json"), """{"v":2}""".getBytes)
      q.processAllAvailable()
      // next trigger replayed the spooled batch first, then the new one
      assert(rs.pendingBatches == 0)
      assert(FlakySink.delivered.toList == List(List(1L), List(2L)))
    } finally q.stop()
  }

  test("file sink writes json/csv/parquet that read back identically") {
    val out = tempDir("graft_sink")
    val df = spark.range(10).toDF("v").withColumn("s", concat(lit("row"), col("v")))
    for (fmt <- Seq("json", "csv", "parquet")) {
      FileSink(s"$out/$fmt", fmt).writeBatch(df)
      val back = FileSource(s"$out/$fmt", if (fmt == "csv") "csv" else fmt,
        schema = if (fmt == "csv") Some(StructType.fromDDL("v bigint, s string")) else None)
        .batch(spark)
      assert(back.count() == 10, s"$fmt round-trip")
      assert(back.agg(sum("v")).first().getLong(0) == 45, s"$fmt content")
    }
  }

  test("data template renders per-row payloads distributed") {
    ConnectorSink.clear("rest", "api/ep")
    val df = spark.range(3).toDF("v")
    ConnectorSink("rest", "api/ep",
      Map("dataTemplate" -> """val={{v}}!""")).writeBatch(df)
    assert(ConnectorSink.sent("rest", "api/ep").sorted ==
      Vector("val=0!", "val=1!", "val=2!"))
  }

  test("sink batching groups payloads per partition") {
    // batching is a transport concern and runs where the rows are: each
    // partition's client groups its own rows (no driver-side collect)
    ConnectorSink.clear("rest", "api/batched")
    ConnectorSink("rest", "api/batched",
      Map("dataTemplate" -> """{{v}}""", "batchSize" -> "2"))
      .writeBatch(spark.range(4).toDF("v").repartition(1))
    val sent = ConnectorSink.sent("rest", "api/batched")
    assert(sent.length == 2 && sent.forall(_.startsWith("[")))
    assert(sent.flatMap(_.stripPrefix("[").stripSuffix("]").split(","))
      .map(_.trim).sorted.toSeq == Seq("0", "1", "2", "3"))
  }

  test("dataField and excludeFields shape the outgoing payload") {
    // dataField: only the named field's content is sent (a struct
    // expands to its own fields — reference transform/template.go:44)
    ConnectorSink.clear("rest", "api/datafield")
    val df = spark.range(1).toDF("v")
      .select(struct(lit("d9").as("device"), lit(21L).as("temp")).as("meta"),
        col("v"))
    ConnectorSink("rest", "api/datafield", Map("dataField" -> "meta"))
      .writeBatch(df)
    assert(ConnectorSink.sent("rest", "api/datafield") ==
      Vector("""{"device":"d9","temp":21}"""))
    // excludeFields drops the listed columns
    ConnectorSink.clear("rest", "api/exclude")
    ConnectorSink("rest", "api/exclude", Map("excludeFields" -> "v"))
      .writeBatch(spark.range(1).toDF("v").select(col("v"), lit("x").as("s")))
    assert(ConnectorSink.sent("rest", "api/exclude") == Vector("""{"s":"x"}"""))
    // both set is the reference's config error
    intercept[IllegalArgumentException] {
      ConnectorSink("rest", "api/conflict",
        Map("fields" -> "v", "excludeFields" -> "s"))
        .writeBatch(spark.range(1).toDF("v"))
    }
  }

  test("omitIfEmpty suppresses delivery of empty batches entirely") {
    // reference transform_op.go:44,131-137: a windowed rule whose batch
    // came up empty must not POST an empty payload to a webhook
    ConnectorSink.clear("rest", "api/omit")
    val sink = ConnectorSink("rest", "api/omit",
      Map("dataTemplate" -> """{{v}}""", "omitIfEmpty" -> "true"))
    sink.deliver(spark.range(2).toDF("v"))
    sink.deliver(spark.range(2).toDF("v").where(col("v") < 0)) // empty
    assert(ConnectorSink.sent("rest", "api/omit").sorted == Vector("0", "1"))
    // without the prop the empty batch still runs the sink's action
    ConnectorSink.clear("rest", "api/noomit")
    val plain = ConnectorSink("rest", "api/noomit", Map("sendSingle" -> "false"))
    plain.deliver(spark.range(1).toDF("v").where(col("v") < 0))
    assert(ConnectorSink.sent("rest", "api/noomit") == Vector("[]"))
  }

  test("sendSingle=false frames the whole batch as one array message") {
    // reference transform_op.go:43,146-160: the reference's DEFAULT
    // framing — N rows, one json-array publish
    ConnectorSink.clear("rest", "api/single")
    ConnectorSink("rest", "api/single",
      Map("dataTemplate" -> """{{v}}""", "sendSingle" -> "false"))
      .writeBatch(spark.range(4).toDF("v").repartition(4))
    val sent = ConnectorSink.sent("rest", "api/single")
    assert(sent.length == 1, s"expected one message, got $sent")
    assert(sent.head.stripPrefix("[").stripSuffix("]")
      .split(",").map(_.trim).sorted.toSeq == Seq("0", "1", "2", "3"))
    // sendSingle=true keeps per-row framing: N rows → N messages —
    // and wins over a conflicting batchSize (per-row is what the
    // prop means)
    ConnectorSink.clear("rest", "api/perRow")
    ConnectorSink("rest", "api/perRow",
      Map("dataTemplate" -> """{{v}}""", "sendSingle" -> "true",
        "batchSize" -> "2"))
      .writeBatch(spark.range(3).toDF("v"))
    assert(ConnectorSink.sent("rest", "api/perRow").sorted == Vector("0", "1", "2"))
    // omitIfEmpty + sendSingle=false: rows that all shape to empty
    // payloads produce NO message (not "[]")
    ConnectorSink.clear("rest", "api/allempty")
    ConnectorSink("rest", "api/allempty",
      Map("dataTemplate" -> "", "sendSingle" -> "false",
        "omitIfEmpty" -> "true"))
      .writeBatch(spark.range(2).toDF("v"))
    assert(ConnectorSink.sent("rest", "api/allempty").isEmpty)
  }

  test("connector sink publishes from executors, no driver collect") {
    ConnectorSink.clear("mqtt", "topic/exec")
    // 1000 rows across 8 partitions: every row arrives exactly once,
    // grouped within (not across) partitions
    ConnectorSink("mqtt", "topic/exec", Map("dataTemplate" -> """{{v}}"""))
      .writeBatch(spark.range(1000).toDF("v").repartition(8))
    val sent = ConnectorSink.sent("mqtt", "topic/exec")
    assert(sent.length == 1000)
    assert(sent.map(_.toLong).sorted == (0L until 1000L).toVector)
  }

  test("template parser handles literals, fields, whitespace") {
    assert(Sink.templateParts("a {{ b }} c{{d}}") ==
      Seq(Left("a "), Right("b"), Left(" c"), Right("d")))
    assert(Sink.templateParts("no fields") == Seq(Left("no fields")))
  }
}

/** Test sink for ReliableSink: fails the first `failFirst` writeBatch
  * calls, then records each delivered batch's row values in order.
  */
final case class FlakySink(options: Map[String, String] = Map.empty) extends Sink {
  def writeBatch(df: org.apache.spark.sql.DataFrame): Unit = FlakySink.deliver(df)
}

object FlakySink {
  private var failures = 0
  val delivered = scala.collection.mutable.ListBuffer[List[Long]]()
  def reset(failFirst: Int): Unit = synchronized {
    failures = failFirst; delivered.clear()
  }
  def deliver(df: org.apache.spark.sql.DataFrame): Unit = synchronized {
    if (failures > 0) { failures -= 1; throw new RuntimeException("flaky transport down") }
    delivered += df.orderBy("v").collect().map(_.getLong(0)).toList
  }
}
