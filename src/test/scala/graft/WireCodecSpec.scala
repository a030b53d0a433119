package graft

import graft.functions.{Compression, Crypto}
import graft.net.{FeedBridges, MqttBroker, MqttClient}
import graft.sinks.{ConnectorSink, FileSink}
import graft.sources.{ConnectorFeed, ConnectorSource}
import java.nio.charset.StandardCharsets.{ISO_8859_1, UTF_8}
import java.util.Base64
import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Sink-level `compression`/`encryption` and source-level
  * `decompression`/`decryption` props (reference
  * docs/en_US/guide/sinks/overview.md:91-92, internal/compressor,
  * modules/encryptor), plus the file sink rolling policy
  * (internal/io/file/sink.go:38-44).
  */
class WireCodecSpec extends SparkSuite {

  private def awaitCond(cond: => Boolean, what: String): Unit = {
    val deadline = System.nanoTime() + 5L * 1000 * 1000 * 1000
    while (!cond && System.nanoTime() < deadline) Thread.sleep(20)
    assert(cond, s"timed out waiting for $what")
  }

  private val keyB64 = Base64.getEncoder.encodeToString(
    "0123456789abcdef0123456789abcdef".getBytes(UTF_8)) // AES-256, reference test key

  // ---- kernels ----

  test("flate and zstd round-trip (all four reference codecs covered)") {
    val payload = ("graft wire codec " * 40).getBytes(UTF_8)
    for (codec <- Seq("zlib", "gzip", "flate", "zstd")) {
      val packed = Compression.compress(payload, codec)
      assert(packed.length < payload.length, s"$codec should shrink repetitive input")
      assert(Compression.decompress(packed, codec).toSeq == payload.toSeq)
    }
  }

  test("aes-cfb: iv-prefixed wire format, random per message, constant-iv variant") {
    val pt = "stream cipher payload".getBytes(UTF_8)
    val s1 = Crypto.encrypt(pt, keyB64, "cfb", "")
    val s2 = Crypto.encrypt(pt, keyB64, "cfb", "")
    assert(s1.length == 16 + pt.length, "iv(16) || ciphertext")
    assert(s1.toSeq != s2.toSeq, "fresh random IV per message")
    assert(Crypto.decrypt(s1, keyB64, "cfb", "").toSeq == pt.toSeq)
    assert(Crypto.decrypt(s2, keyB64, "cfb", "").toSeq == pt.toSeq)
    // constant IV still carries the prefix — the reference's
    // message-level StreamEncrypter prepends unconditionally
    // (stream.go Encrypt/Decrypt; only the file writer elides)
    val iv = Base64.getEncoder.encodeToString(Array.tabulate[Byte](16)(_.toByte))
    val s3 = Crypto.encrypt(pt, keyB64, "cfb", iv)
    val s4 = Crypto.encrypt(pt, keyB64, "cfb", iv)
    assert(s3.length == 16 + pt.length, "constant iv: still iv || ct")
    assert(s3.toSeq == s4.toSeq, "constant iv is deterministic")
    assert(s3.take(16).toSeq == Base64.getDecoder.decode(iv).toSeq)
    assert(Crypto.decrypt(s3, keyB64, "cfb", iv).toSeq == pt.toSeq)
    // a consumer with no iv prop decodes the same bytes (iv is in-band)
    assert(Crypto.decrypt(s3, keyB64, "cfb", "").toSeq == pt.toSeq)
  }

  test("aes-gcm: nonce||ct||tag layout, authentication catches tampering") {
    val pt = "authenticated payload".getBytes(UTF_8)
    val s = Crypto.encrypt(pt, keyB64, "gcm", "")
    assert(s.length == 12 + pt.length + 16, "nonce(12) || ct || tag(16)")
    assert(Crypto.decrypt(s, keyB64, "gcm", "").toSeq == pt.toSeq)
    s(s.length - 1) = (s(s.length - 1) ^ 0x01).toByte
    intercept[Exception](Crypto.decrypt(s, keyB64, "gcm", ""))
  }

  test("unsupported modes and algorithms are rejected") {
    intercept[IllegalArgumentException](
      Crypto.encrypt(Array[Byte](1), keyB64, "ecb", ""))
    intercept[IllegalArgumentException](
      ConnectorSink("mqtt", "enc/bad",
        Map("encryption" -> "des", "aesKey" -> keyB64))
        .writeBatch(spark.range(1).toDF()))
    intercept[IllegalArgumentException](
      ConnectorSink("mqtt", "enc/nokey", Map("encryption" -> "aes"))
        .writeBatch(spark.range(1).toDF()))
  }

  // ---- sink pipeline: encode → compress → encrypt ----

  test("connector sink compresses then encrypts payloads (stub transport)") {
    import spark.implicits._
    ConnectorSink.clear("mqtt", "wire/out")
    val df = Seq((1L, "alpha"), (2L, "beta")).toDF("id", "name")
    ConnectorSink("mqtt", "wire/out", Map(
      "compression" -> "gzip", "encryption" -> "aes",
      "aesKey" -> keyB64, "encMode" -> "gcm")).writeBatch(df)
    val sent = ConnectorSink.sent("mqtt", "wire/out")
    assert(sent.size == 2)
    val decoded = sent.map { p =>
      val bytes = p.getBytes(ISO_8859_1) // stub bridge is byte-preserving
      new String(Compression.decompress(
        Crypto.decrypt(bytes, keyB64, "gcm", ""), "gzip"), UTF_8)
    }.sorted
    assert(decoded == Vector(
      """{"id":1,"name":"alpha"}""", """{"id":2,"name":"beta"}"""))
  }

  test("e2e over a real broker: compressed+encrypted out, decoded back in by source props") {
    val broker = MqttBroker.start()
    try {
      import spark.implicits._
      ConnectorFeed.clear("mqtt", "wire/rt")
      // source bridge subscribing WITH decode props
      val src = ConnectorSource("mqtt", "wire/rt",
        StructType.fromDDL("id bigint, name string"),
        Map("server" -> broker.address,
          "decompression" -> "zstd", "decryption" -> "aes", "aesKey" -> keyB64))
      assert(src.batch(spark).count() == 0) // starts the bridge
      // sink publishing through the same broker WITH encode props
      ConnectorSink("mqtt", s"${broker.address}/wire/rt",
        Map("compression" -> "zstd", "encryption" -> "aes", "aesKey" -> keyB64))
        .writeBatch(Seq((7L, "roundtrip")).toDF("id", "name"))
      awaitCond(src.batch(spark).count() == 1, "decoded frame landing in the feed")
      val r = src.batch(spark).select("id", "name").first()
      assert((r.getLong(0), r.getString(1)) == ((7L, "roundtrip")))
      // raw wire really is binary: a plain subscriber must NOT see JSON
      val raw = new ConcurrentLinkedQueue[Array[Byte]]()
      val sub = MqttClient.connect(broker.address, "raw-sub")
      sub.subscribe("wire/rt", (_, p) => raw.add(p))
      ConnectorSink("mqtt", s"${broker.address}/wire/rt",
        Map("compression" -> "zstd", "encryption" -> "aes", "aesKey" -> keyB64))
        .writeBatch(Seq((8L, "opaque")).toDF("id", "name"))
      awaitCond(!raw.isEmpty, "raw frame delivery")
      assert(!new String(raw.peek(), UTF_8).contains("opaque"),
        "wire payload must be ciphertext, not JSON")
      sub.close()
    } finally { FeedBridges.closeAll(); broker.close() }
  }

  test("e2e websocket: binary compressed+encrypted frames decode on the source side") {
    val hub = graft.net.WebSocketHub.start()
    try {
      import spark.implicits._
      ConnectorFeed.clear("websocket", "wire/ws")
      val url = s"ws://127.0.0.1:${hub.port}/wire"
      val src = ConnectorSource("websocket", "wire/ws",
        StructType.fromDDL("id bigint, name string"),
        Map("server" -> url,
          "decompression" -> "gzip", "decryption" -> "aes", "aesKey" -> keyB64))
      assert(src.batch(spark).count() == 0) // starts the bridge
      ConnectorSink("websocket", url,
        Map("compression" -> "gzip", "encryption" -> "aes", "aesKey" -> keyB64))
        .writeBatch(Seq((5L, "ws-bin")).toDF("id", "name"))
      awaitCond(src.batch(spark).count() == 1, "binary ws frame decoded into the feed")
      val r = src.batch(spark).select("id", "name").first()
      assert((r.getLong(0), r.getString(1)) == ((5L, "ws-bin")))
    } finally { FeedBridges.closeAll(); hub.close() }
  }

  test("e2e redis: bulk payload stays binary-safe through publish and subscribe") {
    val stub = graft.net.RedisStubServer.start()
    try {
      import spark.implicits._
      ConnectorFeed.clear("redis", "wire/redis")
      val src = ConnectorSource("redis", "wire/redis",
        StructType.fromDDL("id bigint, name string"),
        Map("server" -> stub.address,
          "decompression" -> "zstd", "decryption" -> "aes", "aesKey" -> keyB64))
      assert(src.batch(spark).count() == 0) // starts the bridge
      ConnectorSink("redis", s"${stub.address}/wire/redis",
        Map("compression" -> "zstd", "encryption" -> "aes", "aesKey" -> keyB64))
        .writeBatch(Seq((6L, "redis-bin")).toDF("id", "name"))
      awaitCond(src.batch(spark).count() == 1, "binary redis payload decoded into the feed")
      val r = src.batch(spark).select("id", "name").first()
      assert((r.getLong(0), r.getString(1)) == ((6L, "redis-bin")))
    } finally { FeedBridges.closeAll(); stub.close() }
  }

  test("a poison frame is skipped — the bridge keeps consuming") {
    val broker = MqttBroker.start()
    try {
      import spark.implicits._
      ConnectorFeed.clear("mqtt", "wire/poison")
      val src = ConnectorSource("mqtt", "wire/poison",
        StructType.fromDDL("id bigint"),
        Map("server" -> broker.address,
          "decompression" -> "gzip", "decryption" -> "aes", "aesKey" -> keyB64))
      assert(src.batch(spark).count() == 0) // starts the bridge
      // plaintext junk on the encrypted topic must not kill the reader
      val pub = MqttClient.connect(broker.address, "poison-pub")
      pub.publish("wire/poison", "not encrypted at all")
      ConnectorSink("mqtt", s"${broker.address}/wire/poison",
        Map("compression" -> "gzip", "encryption" -> "aes", "aesKey" -> keyB64))
        .writeBatch(Seq(99L).toDF("id"))
      awaitCond(src.batch(spark).count() == 1, "valid frame decoded after the poison one")
      assert(src.batch(spark).select("id").first().getLong(0) == 99L)
      pub.close()
    } finally { FeedBridges.closeAll(); broker.close() }
  }

  // ---- file sink rolling ----

  test("file sink rollingCount caps rows per part file") {
    val dir = tempDir("graft-roll-count").toFile
    val out = s"${dir.getAbsolutePath}/data"
    FileSink(out, "json", Map("rollingCount" -> "25"))
      .writeBatch(spark.range(100).repartition(1).toDF())
    val parts = new java.io.File(out).listFiles()
      .filter(f => f.getName.startsWith("part-") && !f.getName.endsWith(".crc"))
    assert(parts.length >= 4, s"100 rows / 25 per file needs >= 4 parts, got ${parts.length}")
    assert(spark.read.json(out).count() == 100)
  }

  test("file sink rollingInterval buckets batches into stamped roll directories") {
    val sink = FileSink("/data/out/result", "json",
      Map("rollingInterval" -> "60000", "rollingNamePattern" -> "suffix"))
    assert(sink.rollTarget(123456789L) == "/data/out/result-123420000")
    assert(sink.rollTarget(123456789L) == sink.rollTarget(123460000L),
      "same interval, same roll dir")
    val pre = FileSink("/data/out/result", "json",
      Map("rollingInterval" -> "60000", "rollingNamePattern" -> "prefix"))
    assert(pre.rollTarget(123456789L) == "/data/out/123420000-result")
    val none = FileSink("/data/out/result", "json",
      Map("rollingInterval" -> "60000", "rollingNamePattern" -> "none"))
    assert(none.rollTarget(123456789L) == "/data/out/result")
    intercept[IllegalArgumentException](
      FileSink("/x", "json", Map("rollingNamePattern" -> "sideways")))
  }

  test("file sink rollingSize re-estimates the row cap as rows widen") {
    import spark.implicits._
    val dir = tempDir("graft-roll-size").toFile
    val out = s"${dir.getAbsolutePath}/size"
    val old = FileSink.RollResampleEvery
    FileSink.RollResampleEvery = 2 // test cadence: re-sample every 2nd batch
    try {
      val sink = FileSink(out, "json", Map("rollingSize" -> "1000"))
      val narrow = Seq.fill(40)("x" * 5).toDF("s").repartition(1)
      val wide = Seq.fill(40)("y" * 200).toDF("s").repartition(1)
      sink.writeBatch(narrow) // batch 0: initial sample on narrow rows
      val capNarrow = sink.currentSizeCap
      assert(capNarrow > 10, s"narrow rows give a generous cap, got $capNarrow")
      sink.writeBatch(wide) // batch 1: cached cap, no re-sample yet
      assert(sink.currentSizeCap == capNarrow)
      sink.writeBatch(wide) // batch 2: cadence hit → re-sample on wide rows
      val capWide = sink.currentSizeCap
      assert(capWide < capNarrow && capWide <= 5,
        s"wide rows must tighten the cap: narrow=$capNarrow wide=$capWide")
      assert(spark.read.json(out).count() == 120)
    } finally FileSink.RollResampleEvery = old
  }

  test("file sink compression prop reaches the writer (gzip json reads back)") {
    val dir = tempDir("graft-roll-gz").toFile
    val out = s"${dir.getAbsolutePath}/gz"
    import spark.implicits._
    FileSink(out, "json", Map("compression" -> "gzip"))
      .writeBatch(Seq(("a", 1), ("b", 2)).toDF("k", "v"))
    val gzParts = new java.io.File(out).listFiles().filter(_.getName.endsWith(".json.gz"))
    assert(gzParts.nonEmpty, "json parts should be gzip-compressed")
    assert(spark.read.json(out).count() == 2)
  }

  test("literal_split kernel agrees with regex split on every edge shape") {
    import spark.implicits._
    val cases = Seq(
      "a|b|c", "|leading", "trailing|", "||", "", "no-delim",
      "a||b", "|", "multi||byte|é|ü|", "é|華|🎈", "a|b|c|",
      "x,y|z,w" // delimiter char mixed with other punctuation
    )
    for (delim <- Seq("|", "||", ",", "é")) {
      val df = cases.toDF("s")
      val diff = df.select(
          graft.functions.DelimitedKernels.literal_split(col("s"), delim).as("k"),
          split(col("s"), java.util.regex.Pattern.quote(delim), -1).as("r"))
        .where(not(col("k") === col("r")))
        .count()
      assert(diff == 0, s"kernel diverges from regex split for delimiter '$delim'")
    }
  }

  test("decodeDelimited with an empty delimiter keeps the char-split behavior") {
    import spark.implicits._
    val r = Seq("abc").toDF("frame")
      .select(graft.sources.Codecs.decodeDelimited(col("frame"),
        StructType.fromDDL("a STRING, b STRING, c STRING"), "").as("m"))
      .select(col("m.*")).first()
    assert((r.getString(0), r.getString(1), r.getString(2)) == (("a", "b", "c")))
  }

  test("literal_split: property equivalence with regex split on random inputs") {
    // driver-side property check against the JVM kernel directly
    // (the codegen path calls the same static method; the column-level
    // equivalence cases above pin the plumbing)
    import org.scalacheck.{Gen, Prop}
    import org.scalacheck.Test.{check, Parameters}
    import org.apache.spark.unsafe.types.UTF8String
    val delims = Gen.oneOf("|", ",", "||", "é", "ab")
    val text = Gen.listOf(Gen.oneOf(Gen.alphaNumStr, Gen.const("|"),
      Gen.const(","), Gen.const("é"), Gen.const("ab"))).map(_.mkString)
    val prop = Prop.forAll(text, delims) { (s: String, d: String) =>
      val kernel = graft.functions.DelimitedKernels
        .splitLiteral(UTF8String.fromString(s),
          d.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        .map(_.toString).toSeq
      val regex = s.split(java.util.regex.Pattern.quote(d), -1).toSeq
      kernel == regex
    }
    val res = check(Parameters.default.withMinSuccessfulTests(500), prop)
    assert(res.passed, res.status.toString)
  }

  test("literal_split stays inside whole-stage codegen") {
    // a range source (not a foldable local relation, which would be
    // constant-folded into a LocalTableScan before codegen runs)
    val plan = spark.range(10)
      .select(concat(col("id").cast("string"), lit("|b")).as("s"))
      .select(graft.functions.DelimitedKernels.literal_split(col("s"), "|"))
      .queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
    assert(plan.contains("codegen id"), s"kernel fell out of codegen:\n$plan")
  }
}
