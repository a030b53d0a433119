package graft

import graft.sinks.ImageSink
import graft.sources.RandomSource
import org.apache.spark.sql.functions._

/** Random source + image sink tests (reference extensions/impl/random,
  * extensions/impl/image).
  */
class RandomImageSpec extends SparkSuite {

  test("random source: pattern fields draw in [base, base+seed), deterministic") {
    val src = RandomSource(Map("count" -> 50, "temp" -> 20), seed = 10, count = 200)
    val df = src.batch(spark)
    assert(df.columns.toSeq == Seq("ts", "count", "temp"))
    assert(df.count() == 200)
    val stats = df.agg(
      min("count"), max("count"), min("temp"), max("temp")).head()
    assert(stats.getLong(0) >= 50 && stats.getLong(1) < 60)
    assert(stats.getLong(2) >= 20 && stats.getLong(3) < 30)
    // deterministic replay: same seed → same rows
    val again = src.batch(spark)
    assert(df.exceptAll(again).isEmpty && again.exceptAll(df).isEmpty)
  }

  test("random source: deduplicate drops repeated pattern draws") {
    val src = RandomSource(Map("v" -> 0), seed = 3, count = 100, deduplicate = 10)
    // only 3 possible draws exist; dedup leaves at most 3 rows
    assert(src.batch(spark).count() <= 3)
  }

  test("random source: invalid seed is refused") {
    intercept[IllegalArgumentException](RandomSource(Map("v" -> 1), seed = 0))
  }

  private def pngBytes(w: Int, h: Int, rgb: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    (0 until w).foreach(x => (0 until h).foreach(y => img.setRGB(x, y, rgb)))
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  test("image sink: binary columns decode and persist in the target format") {
    import spark.implicits._
    val dir = tempDir("graft_img_").toString
    val df = Seq(
      (pngBytes(4, 4, 0xff0000), "a"),
      (pngBytes(8, 8, 0x00ff00), "b")).toDF("frame", "label")
    ImageSink(dir, "jpeg").writeBatch(df)
    val files = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".jpeg"))
    assert(files.length == 2)
    // round-trips through ImageIO as real jpeg
    val back = javax.imageio.ImageIO.read(files.head)
    assert(back != null && back.getWidth > 0)
  }

  test("image sink: undecodable bytes fail the batch") {
    import spark.implicits._
    val dir = tempDir("graft_img_bad_").toString
    val bad = Seq((Array[Byte](1, 2, 3), "x")).toDF("frame", "label")
    intercept[Exception](ImageSink(dir, "png").writeBatch(bad))
  }

  test("image sink: maxCount retention keeps the newest files") {
    import spark.implicits._
    val dir = tempDir("graft_img_keep_").toString
    val sink = ImageSink(dir, "png", maxCount = 3)
    (1 to 5).foreach { i =>
      sink.writeBatch(Seq((pngBytes(2, 2, i), s"i$i")).toDF("frame", "label"))
      Thread.sleep(5) // distinct mtimes for newest-first ordering
    }
    val files = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".png"))
    assert(files.length == 3)
  }

  test("random DDL-less stream shape matches batch shape") {
    val src = RandomSource(Map("v" -> 5), seed = 7)
    val st = src.stream(spark)
    assert(st.isStreaming && st.columns.toSeq == Seq("ts", "v"))
  }
}
