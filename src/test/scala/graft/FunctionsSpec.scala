package graft

import graft.functions.{CompressExpr, Compression, DecompressExpr, GraftFunctions}
import org.apache.spark.sql.functions._

/** Function-surface contracts (SURVEY §2.5):
  *  - q_fn_hash2's sha1/sha384/sha512/crc32 pinned against the JDK's
  *    independent implementations (DuckDB lacks these, so the SQL
  *    oracle can't cover them).
  *  - compress/decompress round-trips (zlib + gzip).
  *  - nondeterministic functions (newuuid/tstamp/rand) checked for
  *    shape and bounds.
  *  - eKuiper-named registry functions exercised through spark.sql.
  */
class FunctionsSpec extends SparkSuite {

  test("sha1/sha384/sha512/crc32 match JDK golden vectors on real docs") {
    val rows = Tables(spark, sf, "documents").limit(25)
      .select(col("text"),
        sha1(col("text").cast("binary")).as("s1"),
        sha2(col("text").cast("binary"), 384).as("s384"),
        sha2(col("text").cast("binary"), 512).as("s512"),
        crc32(col("text").cast("binary")).as("c32"))
      .collect()
    assert(rows.nonEmpty)
    def jdk(alg: String, s: String): String =
      java.security.MessageDigest.getInstance(alg)
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    rows.foreach { r =>
      val t = r.getString(0)
      assert(r.getString(1) == jdk("SHA-1", t))
      assert(r.getString(2) == jdk("SHA-384", t))
      assert(r.getString(3) == jdk("SHA-512", t))
      val c = new java.util.zip.CRC32(); c.update(t.getBytes("UTF-8"))
      assert(r.getLong(4) == c.getValue)
    }
  }

  test("md5/sha256 classic golden vectors") {
    val r = spark.sql(
      "SELECT md5(cast('abc' AS binary)), sha2(cast('abc' AS binary), 256)").first()
    assert(r.getString(0) == "900150983cd24fb0d6963f7d28e17f72")
    assert(r.getString(1) == "ba7816bf8f01cfea414140de5dae2223b00361a396177a9cb410ff61f20015ad")
  }

  test("compress/decompress round-trips for zlib and gzip") {
    for (codec <- Seq("zlib", "gzip")) {
      val payload = ("graft " * 100).getBytes("UTF-8")
      val packed = Compression.compress(payload, codec)
      assert(packed.length < payload.length, s"$codec should shrink repetitive data")
      assert(Compression.decompress(packed, codec).toSeq == payload.toSeq)
    }
    intercept[IllegalArgumentException](Compression.compress(Array[Byte](1), "lz77"))
  }

  test("compress/decompress reject non-whitelisted codecs at construction") {
    import org.apache.spark.sql.graft.ColumnBridge
    // the codec string is spliced into generated Java, so anything that
    // could break out of the string literal must die in the constructor,
    // before codegen ever sees it
    val bin = ColumnBridge.expression(lit("x").cast("binary"))
    for (bad <- Seq("lz77", """zl"ib""", "gzip\\\""))
      intercept[IllegalArgumentException](CompressExpr(bin, bad))
    intercept[IllegalArgumentException](DecompressExpr(bin, """a");evil("""))
    // SQL path: a bad codec literal fails the query, not codegen
    GraftFunctions.registerAll(spark)
    intercept[Exception](
      spark.sql("""SELECT compress(cast('x' AS binary), 'no"pe')""").collect())
  }

  test("corpus-hygiene pack is SQL-reachable and matches the Column API") {
    GraftFunctions.registerAll(spark)
    val df = Tables(spark, sf, "documents").limit(50)
      .select(col("doc_id"), col("text"))
    df.createOrReplaceTempView("docs_hyg")
    val viaSql = spark.sql(
      """SELECT doc_id, lang_id(text) AS l, quality_score(text) AS q,
        |  gopher_keep(text) AS g, token_count(text) AS t,
        |  sampling_bucket(text) AS b, round(stopword_ratio(text, 'de'), 6) AS de
        |FROM docs_hyg""".stripMargin)
    val viaCols = df.select(col("doc_id"),
      graft.operators.TextOps.langId(col("text")).as("l"),
      graft.operators.TextOps.qualityScore(col("text")).as("q"),
      graft.operators.TextOps.gopherKeep(col("text")).as("g"),
      graft.operators.TextOps.tokenCount(col("text")).as("t"),
      graft.operators.TextOps.samplingBucket(col("text")).as("b"),
      round(graft.operators.TextOps.stopwordRatio(col("text"), "de"), 6).as("de"))
    assert(viaSql.exceptAll(viaCols).isEmpty && viaCols.exceptAll(viaSql).isEmpty)
    // redaction + url domain, literal checks
    val r = spark.sql(
      "SELECT pii_redact('mail a@b.co now'), url_domain('https://x.y.z/p')").first()
    assert(r.getString(0) == "mail <EMAIL> now" && r.getString(1) == "x.y.z")
    // bpe_encode with a rank-ordered literal merge list
    val e = spark.sql(
      "SELECT bpe_encode('table talk', 't a;l e;ta b;tab le')").first()
    assert(e.getSeq[String](0) == Seq("table", "ta", "l", "k"))
    intercept[Exception](
      spark.sql("SELECT bpe_encode('x', 'bad merge entry here')").collect())
  }

  test("compress/decompress as Column expressions and SQL functions") {
    GraftFunctions.registerAll(spark)
    val df = Tables(spark, sf, "documents").limit(10).select(col("doc_id"), col("text"))
    df.createOrReplaceTempView("docs_cmp")
    val roundtrip = spark.sql(
      """SELECT doc_id, cast(decompress(compress(text, "zlib"), "zlib") AS string) AS back,
        |  text FROM docs_cmp""".stripMargin)
    assert(roundtrip.where(col("back") =!= col("text")).count() == 0)
  }

  test("to_seconds / date_calc / array_map match the reference semantics") {
    GraftFunctions.registerAll(spark)
    val r = spark.sql(
      """SELECT to_seconds(timestamp'2024-01-02 03:04:05Z') AS secs,
        |  date_calc(timestamp'2024-01-02 03:04:05Z', '1h30m') AS fwd,
        |  date_calc(timestamp'2024-01-02 03:04:05Z', '-20m') AS back,
        |  array_map('abs', array(-1, 2, -3)) AS absd,
        |  array_map('dec2hex', array(255, 16)) AS hexd""".stripMargin).first()
    assert(r.getLong(0) == 1704164645L)
    assert(r.getString(1) == "2024-01-02 04:34:05")
    assert(r.getString(2) == "2024-01-02 02:44:05")
    assert(r.getSeq[Int](3) == Seq(1, 2, 3))
    assert(r.getSeq[String](4) == Seq("FF", "10"))
    // malformed duration fails at plan time, not mid-job
    intercept[Exception](spark.sql(
      "SELECT date_calc(timestamp'2024-01-02 03:04:05', 'one hour')").collect())
    // sub-millisecond durations keep microsecond precision (the
    // reference's time.ParseDuration is ns-precise): a 500us shift
    // across a second boundary must land in the next second
    val sub = spark.sql(
      """SELECT date_calc(timestamp'2024-01-02 03:04:05.9997', '500us') AS a,
        |  date_calc(timestamp'2024-01-02 03:04:05.9997', '1.5ms') AS b""".stripMargin).first()
    assert(sub.getString(0) == "2024-01-02 03:04:06")
    assert(sub.getString(1) == "2024-01-02 03:04:06")
  }

  test("protobuf lite codec: wire-format goldens and round trips") {
    import graft.functions.ProtobufLite
    import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
    import org.apache.spark.sql.types._
    import org.apache.spark.unsafe.types.UTF8String

    // the protobuf documentation's canonical example: a message with
    // field 1 (varint) = 150 encodes as 08 96 01
    val s1 = StructType.fromDDL("a BIGINT")
    val row1 = new GenericInternalRow(Array[Any](150L))
    assert(ProtobufLite.encode(row1, s1).toSeq ==
      Seq(0x08.toByte, 0x96.toByte, 0x01.toByte))
    assert(ProtobufLite.decode(Array(0x08.toByte, 0x96.toByte, 0x01.toByte), s1)
      .getLong(0) == 150L)
    // field 2 (string) = "testing" encodes as 12 07 "testing"
    val s2 = StructType.fromDDL("skip BIGINT, b STRING")
    val bytes2 = Array(0x12, 0x07).map(_.toByte) ++ "testing".getBytes("UTF-8")
    val d2 = ProtobufLite.decode(bytes2, s2)
    assert(d2.isNullAt(0) && d2.getUTF8String(1).toString == "testing")

    // full scalar round trip incl. negative varints and null skipping
    val s3 = StructType.fromDDL(
      "l BIGINT, i INT, f DOUBLE, g FLOAT, t BOOLEAN, s STRING")
    val row3 = new GenericInternalRow(Array[Any](
      -42L, -7, 3.25, 1.5f, true, UTF8String.fromString("héllo")))
    val back = ProtobufLite.decode(ProtobufLite.encode(row3, s3), s3)
    assert(back.getLong(0) == -42L && back.getInt(1) == -7
      && back.getDouble(2) == 3.25 && back.getFloat(3) == 1.5f
      && back.getBoolean(4) && back.getUTF8String(5).toString == "héllo")
    // unknown field numbers in the payload are skipped, not fatal
    val withUnknown = ProtobufLite.encode(row3, s3) ++
      Array(0x78, 0x01).map(_.toByte) // field 15 varint 1
    assert(ProtobufLite.decode(withUnknown, s3).getLong(0) == -42L)
  }

  test("avro lite codec: zigzag goldens and nullable round trips") {
    import graft.functions.AvroLite
    import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
    import org.apache.spark.sql.types._
    import org.apache.spark.unsafe.types.UTF8String

    // avro spec: long -1 zigzags to 1; nullable union prefixes branch
    // index 1 (zigzag 2). record {long? = -1} => [0x02, 0x01]
    val s1 = StructType.fromDDL("a BIGINT")
    val row1 = new GenericInternalRow(Array[Any](-1L))
    assert(AvroLite.encode(row1, s1).toSeq == Seq(0x02.toByte, 0x01.toByte))
    assert(AvroLite.decode(Array(0x02.toByte, 0x01.toByte), s1).getLong(0) == -1L)
    // null field = union branch 0 (zigzag 0) only
    val rowN = new GenericInternalRow(Array[Any](null))
    assert(AvroLite.encode(rowN, s1).toSeq == Seq(0x00.toByte))
    assert(AvroLite.decode(Array(0x00.toByte), s1).isNullAt(0))

    val s3 = StructType.fromDDL(
      "l BIGINT, i INT, f DOUBLE, g FLOAT, t BOOLEAN, s STRING, n STRING")
    val row3 = new GenericInternalRow(Array[Any](
      150L, -7, 3.25, 1.5f, true, UTF8String.fromString("héllo"), null))
    val back = AvroLite.decode(AvroLite.encode(row3, s3), s3)
    assert(back.getLong(0) == 150L && back.getInt(1) == -7
      && back.getDouble(2) == 3.25 && back.getFloat(3) == 1.5f
      && back.getBoolean(4) && back.getUTF8String(5).toString == "héllo"
      && back.isNullAt(6))
  }

  test("nested records: avro and protobuf codecs recurse through struct fields") {
    import graft.functions.{AvroLite, ProtobufLite}
    import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
    import org.apache.spark.sql.types._
    import org.apache.spark.unsafe.types.UTF8String

    // protobuf documentation's nested example: field 3 = submessage
    // {field 1 (varint) = 150} encodes as 1a 03 08 96 01
    val nested3 = StructType.fromDDL("s1 BIGINT, s2 BIGINT, sub STRUCT<a: BIGINT>")
    val rowG = new GenericInternalRow(Array[Any](
      null, null, new GenericInternalRow(Array[Any](150L))))
    assert(ProtobufLite.encode(rowG, nested3).toSeq ==
      Seq(0x1a, 0x03, 0x08, 0x96, 0x01).map(_.toByte))
    val backG = ProtobufLite.decode(Seq(0x1a, 0x03, 0x08, 0x96, 0x01).map(_.toByte).toArray, nested3)
    assert(backG.getStruct(2, 1).getLong(0) == 150L)

    // two-level round trips, null nested struct included, both codecs
    val deep = StructType.fromDDL(
      "id BIGINT, pos STRUCT<lat: DOUBLE, tag: STRUCT<name: STRING>>, gone STRUCT<x: BIGINT>")
    val rowD = new GenericInternalRow(Array[Any](
      5L,
      new GenericInternalRow(Array[Any](
        48.25, new GenericInternalRow(Array[Any](UTF8String.fromString("berlin"))))),
      null))
    for (codec <- Seq[(org.apache.spark.sql.catalyst.InternalRow, StructType) =>
        org.apache.spark.sql.catalyst.InternalRow](
      (r, s) => AvroLite.decode(AvroLite.encode(r, s), s),
      (r, s) => ProtobufLite.decode(ProtobufLite.encode(r, s), s))) {
      val back = codec(rowD, deep)
      assert(back.getLong(0) == 5L)
      val pos = back.getStruct(1, 2)
      assert(pos.getDouble(0) == 48.25)
      assert(pos.getStruct(1, 1).getUTF8String(0).toString == "berlin")
      assert(back.isNullAt(2))
    }

    // DDL-level: a nested-schema stream decodes through the codec path
    import graft.sources.{Codecs, ConnectorFeed, ConnectorSource}
    val schema = StructType.fromDDL("device STRING, pos STRUCT<lat: DOUBLE, lon: DOUBLE>")
    val frames = spark.sql(
      "SELECT 'a' AS device, named_struct('lat', 1.5D, 'lon', -2.5D) AS pos")
      .select(Codecs.encode(
        Seq("device" -> col("device"), "pos" -> col("pos")), "avro").as("frame"))
      .collect().map(_.getString(0))
    ConnectorFeed.clear("mqtt", "nested/in")
    frames.foreach(ConnectorFeed.push("mqtt", "nested/in", _, 1000L))
    val rows = ConnectorSource("mqtt", "nested/in", schema,
      Map("format" -> "avro")).batch(spark)
      .select(col("device"), col("pos.lat"), col("pos.lon")).collect()
    assert(rows.length == 1 && rows(0).getString(0) == "a"
      && rows(0).getDouble(1) == 1.5 && rows(0).getDouble(2) == -2.5)
  }

  test("avro codec end-to-end through connector source and sink") {
    import graft.sources.{Codecs, ConnectorFeed, ConnectorSource}
    import org.apache.spark.sql.types.StructType
    val schema = StructType.fromDDL("device STRING, temp BIGINT")
    val frames = spark.sql(
      "SELECT * FROM VALUES ('a', 21), ('b', -3) AS t(device, temp)")
      .select(Codecs.encode(
        Seq("device" -> col("device"), "temp" -> col("temp")), "avro").as("frame"))
      .collect().map(_.getString(0))
    ConnectorFeed.clear("mqtt", "av/in")
    frames.zipWithIndex.foreach { case (f, i) =>
      ConnectorFeed.push("mqtt", "av/in", f, 1000L + i) }
    val rows = ConnectorSource("mqtt", "av/in", schema,
      Map("format" -> "avro")).batch(spark).orderBy("device").collect()
    assert(rows.length == 2)
    assert(rows(0).getString(0) == "a" && rows(0).getLong(1) == 21)
    assert(rows(1).getString(0) == "b" && rows(1).getLong(1) == -3)
  }

  test("protobuf codec end-to-end through connector source and sink") {
    import graft.sources.{Codecs, ConnectorFeed, ConnectorSource}
    import org.apache.spark.sql.types.StructType
    // sink side encodes real rows; the produced frames feed the source
    val schema = StructType.fromDDL("device STRING, temp BIGINT, ok BOOLEAN")
    val frames = spark.sql(
      """SELECT * FROM VALUES ('a', 21, true), ('b', -3, false) AS t(device, temp, ok)""")
      .select(Codecs.encode(
        Seq("device" -> col("device"), "temp" -> col("temp"), "ok" -> col("ok")),
        "protobuf").as("frame"))
      .collect().map(_.getString(0))
    ConnectorFeed.clear("mqtt", "pb/in")
    frames.zipWithIndex.foreach { case (f, i) =>
      ConnectorFeed.push("mqtt", "pb/in", f, 1000L + i) }
    val df = ConnectorSource("mqtt", "pb/in", schema,
      Map("format" -> "protobuf")).batch(spark)
    val rows = df.orderBy("device").collect()
    assert(rows.length == 2)
    assert(rows(0).getString(0) == "a" && rows(0).getLong(1) == 21 && rows(0).getBoolean(2))
    assert(rows(1).getString(0) == "b" && rows(1).getLong(1) == -3 && !rows(1).getBoolean(2))
  }

  test("repeated fields: protobuf packed/unpacked wire goldens, avro array/map blocks") {
    import graft.functions.{AvroLite, ProtobufLite}
    import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
    import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData}
    import org.apache.spark.sql.types._
    import org.apache.spark.unsafe.types.UTF8String

    // protobuf docs' packed example: repeated int32 field 4 = [3, 270,
    // 86942] encodes as 22 06 03 8E 02 9E A7 05
    val sPacked = StructType.fromDDL("a BIGINT, b BIGINT, c BIGINT, f ARRAY<INT>")
    val golden = Seq(0x22, 0x06, 0x03, 0x8e, 0x02, 0x9e, 0xa7, 0x05).map(_.toByte)
    val rowP = new GenericInternalRow(Array[Any](
      null, null, null, new GenericArrayData(Array[Any](3, 270, 86942))))
    assert(ProtobufLite.encode(rowP, sPacked).toSeq == golden)
    val backP = ProtobufLite.decode(golden.toArray, sPacked)
    assert(backP.getArray(3).toIntArray().toSeq == Seq(3, 270, 86942))

    // the same values as proto2-style unpacked scalar tags decode too
    val unpacked = Seq(0x20, 0x03, 0x20, 0x8e, 0x02, 0x20, 0x9e, 0xa7, 0x05).map(_.toByte)
    assert(ProtobufLite.decode(unpacked.toArray, sPacked)
      .getArray(3).toIntArray().toSeq == Seq(3, 270, 86942))

    // repeated string: one length-delimited tag per element
    val sStr = StructType.fromDDL("tags ARRAY<STRING>")
    val rowS = new GenericInternalRow(Array[Any](new GenericArrayData(
      Array[Any](UTF8String.fromString("a"), UTF8String.fromString("bc")))))
    assert(ProtobufLite.encode(rowS, sStr).toSeq ==
      Seq(0x0a, 0x01, 'a'.toInt, 0x0a, 0x02, 'b'.toInt, 'c'.toInt).map(_.toByte))
    val backS = ProtobufLite.decode(ProtobufLite.encode(rowS, sStr), sStr)
    assert(backS.getArray(0).toArray[UTF8String](StringType)
      .map(_.toString).toSeq == Seq("a", "bc"))

    // repeated message + packed double round trip; absent arrays are
    // empty (proto3), not null
    val sMsg = StructType.fromDDL(
      "readings ARRAY<STRUCT<v: DOUBLE, ok: BOOLEAN>>, xs ARRAY<DOUBLE>, none ARRAY<BIGINT>")
    val rowM = new GenericInternalRow(Array[Any](
      new GenericArrayData(Array[Any](
        new GenericInternalRow(Array[Any](1.5, true)),
        new GenericInternalRow(Array[Any](-2.25, false)))),
      new GenericArrayData(Array[Any](0.5, 9.75)),
      null))
    val backM = ProtobufLite.decode(ProtobufLite.encode(rowM, sMsg), sMsg)
    val msgs = backM.getArray(0)
    assert(msgs.numElements() == 2
      && msgs.getStruct(0, 2).getDouble(0) == 1.5 && msgs.getStruct(0, 2).getBoolean(1)
      && msgs.getStruct(1, 2).getDouble(0) == -2.25 && !msgs.getStruct(1, 2).getBoolean(1))
    assert(backM.getArray(1).toDoubleArray().toSeq == Seq(0.5, 9.75))
    assert(backM.getArray(2).numElements() == 0)

    // avro spec block encoding: array<long> [3, 27] = count 04, items
    // 06 36, end 00 — with our nullable-field union prefix 02
    val sArr = StructType.fromDDL("xs ARRAY<BIGINT>")
    val rowA = new GenericInternalRow(Array[Any](new GenericArrayData(Array[Any](3L, 27L))))
    assert(AvroLite.encode(rowA, sArr).toSeq ==
      Seq(0x02, 0x04, 0x06, 0x36, 0x00).map(_.toByte))
    assert(AvroLite.decode(Seq(0x02, 0x04, 0x06, 0x36, 0x00).map(_.toByte).toArray, sArr)
      .getArray(0).toLongArray().toSeq == Seq(3L, 27L))
    // readers accept the negative-count block form (byte size follows)
    assert(AvroLite.decode(Seq(0x02, 0x03, 0x04, 0x06, 0x36, 0x00).map(_.toByte).toArray, sArr)
      .getArray(0).toLongArray().toSeq == Seq(3L, 27L))

    // map<string, long> round trip + golden {"a": 1} = 02 02 02 61 02 00
    val sMap = StructType.fromDDL("m MAP<STRING, BIGINT>")
    val rowMap = new GenericInternalRow(Array[Any](ArrayBasedMapData(
      Array[Any](UTF8String.fromString("a")), Array[Any](1L))))
    assert(AvroLite.encode(rowMap, sMap).toSeq ==
      Seq(0x02, 0x02, 0x02, 0x61, 0x02, 0x00).map(_.toByte))
    val backMap = AvroLite.decode(AvroLite.encode(rowMap, sMap), sMap).getMap(0)
    assert(backMap.numElements() == 1
      && backMap.keyArray().getUTF8String(0).toString == "a"
      && backMap.valueArray().getLong(0) == 1L)

    // arrays of records survive both codecs through a full round trip
    val sBoth = StructType.fromDDL("id BIGINT, rs ARRAY<STRUCT<n: STRING, v: BIGINT>>")
    val rowB = new GenericInternalRow(Array[Any](7L, new GenericArrayData(Array[Any](
      new GenericInternalRow(Array[Any](UTF8String.fromString("x"), 1L)),
      new GenericInternalRow(Array[Any](UTF8String.fromString("y"), 2L))))))
    for (codec <- Seq[(org.apache.spark.sql.catalyst.InternalRow, StructType) =>
        org.apache.spark.sql.catalyst.InternalRow](
      (r, s) => AvroLite.decode(AvroLite.encode(r, s), s),
      (r, s) => ProtobufLite.decode(ProtobufLite.encode(r, s), s))) {
      val back = codec(rowB, sBoth)
      assert(back.getLong(0) == 7L)
      val rs = back.getArray(1)
      assert(rs.numElements() == 2
        && rs.getStruct(0, 2).getUTF8String(0).toString == "x"
        && rs.getStruct(0, 2).getLong(1) == 1L
        && rs.getStruct(1, 2).getUTF8String(0).toString == "y"
        && rs.getStruct(1, 2).getLong(1) == 2L)
    }
  }

  test("repeated fields end-to-end: protobuf frames with array columns through connector source") {
    import graft.sources.{Codecs, ConnectorFeed, ConnectorSource}
    import org.apache.spark.sql.types.StructType
    // a sensor batch message: repeated readings per frame — the shape
    // the reference decodes via protoc descriptors
    val schema = StructType.fromDDL("device STRING, readings ARRAY<BIGINT>")
    val frames = spark.sql(
      """SELECT 'a' AS device, array(3L, 270L, 86942L) AS readings
        |UNION ALL SELECT 'b', array() """.stripMargin)
      .select(Codecs.encode(
        Seq("device" -> col("device"), "readings" -> col("readings")),
        "protobuf").as("frame"))
      .collect().map(_.getString(0))
    ConnectorFeed.clear("mqtt", "pbarr/in")
    frames.zipWithIndex.foreach { case (f, i) =>
      ConnectorFeed.push("mqtt", "pbarr/in", f, 1000L + i) }
    val rows = ConnectorSource("mqtt", "pbarr/in", schema,
      Map("format" -> "protobuf")).batch(spark).orderBy("device").collect()
    assert(rows.length == 2)
    assert(rows(0).getString(0) == "a"
      && rows(0).getSeq[Long](1) == Seq(3L, 270L, 86942L))
    assert(rows(1).getString(0) == "b" && rows(1).getSeq[Long](1).isEmpty)
  }

  test("eKuiper-named registry functions via SQL") {
    GraftFunctions.registerAll(spark)
    val r = spark.sql(
      """SELECT dec2hex(255), hex2dec('FF'), bitand(12, 10), bitnot(0),
        |  indexof('hello', 'll'), numbytes('héllo'), split_value('a/b/c', '/', 1),
        |  regexp_matches('abc123', '[0-9]+'), regexp_substring('abc123', '[0-9]+'),
        |  trunc(3.14159, 2), trunc(-3.14159, 2), cardinality(array(1,2,3))""".stripMargin).first()
    assert(r.getString(0) == "FF")
    assert(r.getLong(1) == 255L)
    assert(r.getInt(2) == 8 && r.getInt(3) == -1)
    assert(r.getLong(4) == 2L) // 0-based
    assert(r.getLong(5) == 6L) // é is 2 bytes
    assert(r.getString(6) == "b")
    assert(r.getBoolean(7) && r.getString(8) == "123")
    assert(r.getDouble(9) == 3.14 && r.getDouble(10) == -3.14)
    assert(r.getLong(11) == 3L)
  }

  test("object functions via SQL: construct/concat/pick/erase/kvpairs") {
    GraftFunctions.registerAll(spark)
    val r = spark.sql(
      """SELECT
        |  to_json(object_construct('a', 1, 'b', cast(NULL AS int), 'c', 3)),
        |  to_json(object_concat(map('a', 1, 'b', 2), map('b', 9, 'd', 4))),
        |  to_json(object_pick(map('a', 1, 'b', 2, 'c', 3), 'a', 'c')),
        |  to_json(erase(map('a', 1, 'b', 2, 'c', 3), 'b')),
        |  to_json(obj_to_kvpair_array(map('k', 7))),
        |  to_json(kvpair_array_to_obj(array(struct('x' AS key, 5 AS value))))""".stripMargin)
      .first()
    assert(r.getString(0) == """{"a":1,"c":3}""") // null value dropped
    assert(r.getString(1).contains(""""b":9""") && r.getString(1).contains(""""d":4"""))
    assert(r.getString(2) == """{"a":1,"c":3}""")
    assert(r.getString(3) == """{"a":1,"c":3}""")
    assert(r.getString(4) == """[{"key":"k","value":7}]""")
    assert(r.getString(5) == """{"x":5}""")
  }

  test("json path functions distinguish missing from null-valued keys") {
    GraftFunctions.registerAll(spark)
    val r = spark.sql(
      """SELECT json_path_exists('{"k": null}', '$.k'),
        |  json_path_exists('{"k": null}', '$.zzz'),
        |  json_path_query('{"a": {"b": 42}}', '$.a.b')""".stripMargin).first()
    assert(r.getBoolean(0), "null-valued key still EXISTS")
    assert(!r.getBoolean(1))
    assert(r.getString(2) == "42")
  }

  test("GraftExtensions registers the full surface on a new session") {
    // a derived session with the extension applied must resolve the
    // eKuiper names without any explicit registerAll call
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new GraftExtensions().apply(ext)
    val fresh = spark.newSession()
    org.apache.spark.sql.graft.RegistryBridge.applyExtensions(ext, fresh)
    val r = fresh.sql("SELECT dec2hex(255), split_value('x/y', '/', 0)").first()
    assert(r.getString(0) == "FF" && r.getString(1) == "x")
    // the non-builder trio rides the extension too
    val r2 = fresh.sql(
      "SELECT get_keyed_state('no_such_key', 'bigint', 7), geohashEncode(0D, 0D)").first()
    assert(r2.getLong(0) == 7L && r2.getString(1) == "s00000000000")
    assert(fresh.sql("SELECT accumulateWordCount('a b', ' ')").first().getLong(0) > 0)
  }

  test("nondeterministic functions: shape and bounds") {
    GraftFunctions.registerAll(spark)
    val rows = spark.range(100)
      .selectExpr("newuuid() AS u", "tstamp() AS t", "rand() AS r").collect()
    val uuidRe = "[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}"
    assert(rows.forall(_.getString(0).matches(uuidRe)))
    assert(rows.map(_.getString(0)).distinct.length == 100)
    // tstamp: epoch millis, sane range (2020..2100)
    assert(rows.forall(r => r.getLong(1) > 1577836800000L && r.getLong(1) < 4102444800000L))
    assert(rows.forall(r => r.getDouble(2) >= 0.0 && r.getDouble(2) < 1.0))
    // now/current_timestamp: same value within one query (SQL standard)
    val nowRow = spark.range(5).selectExpr("current_timestamp() AS n").collect()
    assert(nowRow.map(_.getTimestamp(0)).distinct.length == 1)
  }

  test("eKuiper rename registry: arrays, datetime, stats, aggregates") {
    GraftFunctions.registerAll(spark)
    val r = spark.sql(
      """SELECT array_cardinality(array(1,2,3)), array_create(7, 8),
        |  array_concat(array(1), array(2,3)), array_contains_any(array(1,2), array(2,9)),
        |  array_last_position(array('a','b','a'), 'a'),
        |  array_last_position(array('a','b'), 'z'),
        |  day_name(DATE'2024-01-01'), month_name(DATE'2024-01-01'),
        |  day_of_week(DATE'2024-01-07'), date_diff(DATE'2024-01-10', DATE'2024-01-03'),
        |  from_days(719528), sha256('abc'),
        |  format('%d-%s', 42, 'x'), regexp_substr('ab12cd', '[0-9]+'),
        |  keys(map('k', 1)), values(map('k', 1)), object_size(map('a',1,'b',2)),
        |  microsecond(TIMESTAMP'2024-01-01 00:00:00.000042')""".stripMargin).first()
    assert(r.getLong(0) == 3 && r.getSeq[Int](1) == Seq(7, 8))
    assert(r.getSeq[Int](2) == Seq(1, 2, 3) && r.getBoolean(3))
    assert(r.getLong(4) == 2 && r.getLong(5) == -1)
    assert(r.getString(6) == "Monday" && r.getString(7) == "January")
    assert(r.getLong(8) == 1) // Sunday = 1 (MySQL/eKuiper convention)
    assert(r.getLong(9) == 7)
    assert(r.getDate(10).toString == "1970-01-01")
    assert(r.getString(11) == "ba7816bf8f01cfea414140de5dae2223b00361a396177a9cb410ff61f20015ad")
    assert(r.getString(12) == "42-x" && r.getString(13) == "12")
    assert(r.getSeq[String](14) == Seq("k") && r.getSeq[Int](15) == Seq(1))
    assert(r.getLong(16) == 2 && r.getLong(17) == 42L)
    // aggregate renames work in GROUP BY context
    val agg = spark.sql(
      """SELECT collect(v) AS c, round(percentile_cont(v, 0.5), 1) AS p,
        |  round(stddevs(v), 4) AS sp
        |FROM VALUES (double(1)),(double(2)),(double(3)) AS t(v)""".stripMargin).first()
    assert(agg.getSeq[Double](0).sorted == Seq(1.0, 2.0, 3.0))
    assert(agg.getDouble(1) == 2.0)
    assert(agg.getDouble(2) == math.rint(math.sqrt(2.0 / 3.0) * 10000) / 10000)
  }

  test("array_shuffle permutes, preserves elements") {
    val rows = spark.sql("SELECT shuffle(sequence(1, 50)) AS a FROM range(20)").collect()
    rows.foreach(r => assert(r.getSeq[Int](0).sorted == (1 to 50)))
    // 20 independent shuffles of 50 elements virtually never all agree
    assert(rows.map(_.getSeq[Int](0)).distinct.length > 1)
  }

  test("SQL-reachable codegen hashes agree with kernel") {
    GraftFunctions.registerAll(spark)
    val r = spark.sql("SELECT simhash64('the quick brown fox'), doc_fingerprint('one two three four five six', 5)").first()
    assert(r.getLong(0) == graft.functions.TextHashing.simhash64("the quick brown fox"))
    assert(r.getLong(1) == graft.functions.TextHashing.fingerprintMin("one two three four five six", 5))
  }

  test("get_keyed_state reads the shared store with typed defaults") {
    graft.functions.GraftFunctions.registerAll(spark)
    graft.functions.KeyedState.clear()
    graft.functions.KeyedState.set("gateway_limit", 42L)
    val r = spark.sql(
      """SELECT get_keyed_state('gateway_limit', 'bigint', 0L) AS hit,
        |       get_keyed_state('absent_key', 'bigint', 7L) AS dflt,
        |       get_keyed_state('absent_key', 'string', 'none') AS s
        |""".stripMargin).first()
    assert(r.getLong(0) == 42L && r.getLong(1) == 7L && r.getString(2) == "none")
    // state change is visible to the NEXT query (non-deterministic, no folding)
    graft.functions.KeyedState.set("gateway_limit", 43L)
    assert(spark.sql("SELECT get_keyed_state('gateway_limit', 'bigint', 0L)")
      .first().getLong(0) == 43L)
  }

  test("bypass/props/delay: misc runtime functions (funcs_misc.go)") {
    GraftFunctions.registerAll(spark)
    graft.functions.ConfProps.clear()
    graft.functions.ConfProps.set("site", "factory-7")
    val r = spark.sql(
      "SELECT bypass(41 + 1) AS b, props('site') AS p, props('absent') AS missing").first()
    assert(r.getInt(0) == 42 && r.getString(1) == "factory-7" && r.isNullAt(2))
    // delay sleeps then passes the value through unchanged
    val t0 = System.nanoTime()
    assert(spark.sql("SELECT delay(60, 'x' || 'y')").first().getString(0) == "xy")
    assert((System.nanoTime() - t0) / 1e6 >= 60)
  }

  test("merge_agg: last write per key wins in arrival order") {
    GraftFunctions.registerAll(spark)
    import spark.implicits._
    Seq(
      (1, 1, Map("a" -> 1, "b" -> 2)),
      (1, 2, Map("b" -> 9, "c" -> 3)),
      (2, 1, Map("x" -> 5))).toDF("g", "ord", "m").createOrReplaceTempView("ma_in")
    val out = spark.sql(
      "SELECT g, merge_agg(m) AS merged FROM ma_in GROUP BY g ORDER BY g").collect()
    assert(out(0).getAs[Map[String, Int]]("merged") == Map("a" -> 1, "b" -> 9, "c" -> 3))
    assert(out(1).getAs[Map[String, Int]]("merged") == Map("x" -> 5))
  }

  test("deduplicate agg: first occurrence per key; all=false keeps only a new last row") {
    GraftFunctions.registerAll(spark)
    import spark.implicits._
    Seq((1, 10, "a"), (2, 20, "b"), (3, 30, "a"), (4, 40, "c"))
      .toDF("i", "v", "k").createOrReplaceTempView("dd_in")
    // all=true: rows at the first occurrence of each k, in first-seen order
    val rows = spark.sql("SELECT deduplicate(k, true) AS d FROM dd_in")
      .first().getSeq[org.apache.spark.sql.Row](0)
    assert(rows.map(r => (r.getAs[Int]("i"), r.getAs[String]("k"))) ==
      Seq((1, "a"), (2, "b"), (4, "c")))
    // all=false: the last row, but only when its key is new to the group
    assert(spark.sql("SELECT deduplicate(k, false) AS d FROM dd_in WHERE i <= 2")
      .first().getStruct(0).getAs[Int]("i") == 2)
    assert(spark.sql("SELECT deduplicate(k, false) AS d FROM dd_in WHERE i <= 3")
      .first().isNullAt(0))
  }

  test("sketch aggregates are rule-SQL reachable and match the Column API") {
    GraftFunctions.registerAll(spark)
    Tables(spark, sf, "events").createOrReplaceTempView("ev_sketch")
    // hll_distinct: SQL name == Column API == order-independent result
    val sql = spark.sql(
      """SELECT event_type, hll_distinct(user_id) AS est FROM ev_sketch GROUP BY 1""")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val api = Tables(spark, sf, "events").groupBy(col("event_type"))
      .agg(GraftFunctions.hllDistinct(col("user_id")).as("est"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(sql === api)
    // hll_distinct skips NULLs like count(DISTINCT)
    spark.sql("SELECT * FROM VALUES ('a'), ('b'), (NULL), ('a'), (NULL), ('c') AS t(v)")
      .createOrReplaceTempView("hll_nulls")
    assert(spark.sql("SELECT hll_distinct(v) FROM hll_nulls").first().getLong(0) === 3L)
    // and takes any input type, counting what count(DISTINCT) counts
    spark.sql(
      """SELECT * FROM VALUES
        |  (1.5D, TIMESTAMP'2024-01-01 00:00:00', 1.50BD, DATE'2024-01-01', 1S),
        |  (0.0D, TIMESTAMP'2024-01-01 00:00:01', 2.25BD, DATE'2024-01-02', 2S),
        |  (-0.0D, TIMESTAMP'2024-01-01 00:00:00', 1.50BD, DATE'2024-01-01', 1S),
        |  (NULL, NULL, NULL, NULL, NULL),
        |  (2.5D, TIMESTAMP'2024-01-02 00:00:00', 3.00BD, DATE'2024-01-03', 3S)
        |  AS t(d, ts, dec, dt, s)""".stripMargin).createOrReplaceTempView("hll_types")
    for (c <- Seq("d", "ts", "dec", "dt", "s")) {
      val r = spark.sql(
        s"SELECT hll_distinct($c), count(DISTINCT $c) FROM hll_types").first()
      assert(r.getLong(0) === r.getLong(1), c)
    }
    // topk_sketch in the exact regime reproduces plain counts
    val top = spark.sql(
      """SELECT topk_sketch(event_type, 16, 1) AS t FROM ev_sketch""").first()
      .getSeq[org.apache.spark.sql.Row](0)
    val exact = Tables(spark, sf, "events").groupBy(col("event_type")).count()
      .orderBy(col("count").desc, col("event_type")).first()
    assert(top.head.getString(0) === exact.getString(0))
    assert(top.head.getLong(1) === exact.getLong(1))
    // tdigest median lands within the column's range
    val med = spark.sql(
      """SELECT tdigest_quantiles(CAST(value AS DOUBLE), 100.0, 0.5)[0] AS p50
        |FROM ev_sketch""".stripMargin).first().getDouble(0)
    val mm = Tables(spark, sf, "events")
      .agg(min(col("value")), max(col("value"))).first()
    assert(med >= mm.getDouble(0) && med <= mm.getDouble(1))
    // shape parameters must be literals
    intercept[Exception](spark.sql(
      "SELECT hll_distinct(user_id, value) FROM ev_sketch").collect())
    // and the precision must be in the sketch's range
    for (p <- Seq(0, 30)) {
      val e = intercept[Exception](spark.sql(
        s"SELECT hll_distinct(user_id, $p) FROM ev_sketch").collect())
      assert(e.getMessage.contains("between 4 and 21"), e.getMessage)
    }
  }

  test("mqtt()/window_trigger() translate through the rule dialect") {
    import graft.rules.EkuiperSql
    assert(EkuiperSql.isEkuiperDialect("SELECT mqtt(topic) FROM demo"))
    assert(EkuiperSql.translate("SELECT mqtt(topic) AS t FROM demo")
      .contains("meta('topic')"))
    intercept[IllegalArgumentException](
      EkuiperSql.translate("SELECT mqtt(qos) FROM demo"))
    val w = EkuiperSql.translate(
      "SELECT count(*), window_trigger() FROM demo GROUP BY TUMBLINGWINDOW(ss, 10)")
    assert(w.contains("window.end") && !w.toLowerCase.contains("window_trigger"))
  }
}
