package graft

import org.apache.spark.sql.functions._
import graft.operators.{TextOps, UnigramLm}
import graft.functions.UnigramKernels

/** Unigram-LM tokenizer training: Viterbi segmentation against known
  * vocabularies, frequent-word piece learning, encode round-trips,
  * bit-determinism at any partition layout, and totality on unseen
  * characters.
  */
class UnigramLmSpec extends SparkSuite {
  import spark.implicits._

  private def vocabOf(entries: (String, Double)*): java.util.HashMap[String, java.lang.Double] = {
    val m = new java.util.HashMap[String, java.lang.Double]()
    entries.foreach { case (k, v) => m.put(k, v) }
    m
  }

  test("viterbi picks the max-probability segmentation") {
    val v = vocabOf("table" -> -1.0, "ta" -> -2.0, "ble" -> -2.0,
      "t" -> -5.0, "a" -> -5.0, "b" -> -5.0, "l" -> -5.0, "e" -> -5.0)
    assert(UnigramKernels.segment("table", v, 6).toSeq == Seq("table"))
    // without the whole-word piece the best split is ta+ble
    val v2 = vocabOf("ta" -> -2.0, "ble" -> -2.0,
      "t" -> -5.0, "a" -> -5.0, "b" -> -5.0, "l" -> -5.0, "e" -> -5.0)
    assert(UnigramKernels.segment("table", v2, 6).toSeq == Seq("ta", "ble"))
    assert(UnigramKernels.score("table", v2, 6) === -4.0)
  }

  test("unseen characters segment as single-char unknowns (totality)") {
    val v = vocabOf("a" -> -1.0)
    assert(UnigramKernels.segment("axa", v, 6).toSeq == Seq("a", "x", "a"))
    assert(UnigramKernels.score("axa", v, 6) === -2.0 + UnigramKernels.UnkLogp)
  }

  test("training learns frequent words as single pieces") {
    val docs = Seq.fill(40)("the tokenizer learns frequent words quickly") ++
      Seq.fill(5)("rare straggler text here")
    val df = docs.toDF("text")
    val model = UnigramLm.train(df, "text", vocabSize = 200, maxPieceLen = 12, iters = 4)
    val enc = df.limit(1)
      .select(UnigramLm.encode(col("text"), model).as("p"))
      .first().getSeq[String](0)
    // every frequent word survives as one piece (they dominate counts)
    assert(enc.contains("tokenizer") && enc.contains("frequent"),
      s"frequent words should be single pieces, got $enc")
  }

  test("encode round-trip: concatenated pieces rebuild each token") {
    val docs = Tables(spark, sf, "documents").limit(80)
    val model = UnigramLm.train(docs, "text", vocabSize = 400, iters = 3)
    val rows = docs
      .select(TextOps.tokens(col("text")).as("toks"),
        UnigramLm.encode(col("text"), model).as("pieces"))
      .collect()
    rows.foreach { r =>
      val toks = r.getSeq[String](0)
      val pieces = r.getSeq[String](1)
      assert(pieces.mkString == toks.mkString,
        "piece concatenation must rebuild the token stream")
      assert(pieces.length >= toks.length)
    }
  }

  test("training is bit-deterministic at any partition layout") {
    val df = Tables(spark, sf, "documents").limit(60)
    val m1 = UnigramLm.train(df.repartition(2), "text", vocabSize = 300, iters = 3)
    val m2 = UnigramLm.train(df.repartition(7), "text", vocabSize = 300, iters = 3)
    assert(m1.pieces == m2.pieces)
  }

  test("vocabulary persistence: save/load round-trips pieces and encoding") {
    val df = Tables(spark, sf, "documents").limit(40)
    val model = UnigramLm.train(df, "text", vocabSize = 300, iters = 2)
    val dir = tempDir("unigram_v").toString
    try {
      UnigramLm.save(spark, model, dir)
      val back = UnigramLm.load(spark, dir)
      assert(back.maxPieceLen == model.maxPieceLen)
      assert(back.pieces == model.pieces)
      val a = df.select(UnigramLm.encode(col("text"), model)).collect().map(_.getSeq[String](0))
      val b = df.select(UnigramLm.encode(col("text"), back)).collect().map(_.getSeq[String](0))
      assert(a.toSeq == b.toSeq)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("scoreBits is positive, additive over the encode, and codegen-inline") {
    val df = Tables(spark, sf, "documents").limit(30)
    val model = UnigramLm.train(df, "text", vocabSize = 300, iters = 2)
    val out = df.select(col("doc_id"),
      UnigramLm.scoreBits(col("text"), model).as("bits"),
      size(UnigramLm.encode(col("text"), model)).as("n"))
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("unigram_bits") && !plan.contains("Exchange"))
    out.collect().foreach { r =>
      assert(r.getDouble(1) > 0.0 && r.getInt(2) > 0)
    }
  }

  test("final prune holds |vocab| ≤ vocabSize with the alphabet reserved first") {
    // regression: the old prune kept top-vocabSize PLUS all single
    // chars, so floor-count characters ranked below the cutoff pushed
    // the vocab past vocabSize even with a small alphabet
    val df = Tables(spark, sf, "documents").limit(60)
    val vs = 80
    val model = UnigramLm.train(df, "text", vocabSize = vs, iters = 2)
    val pieces = model.pieces.map(_._1)
    val alphabet = pieces.filter(_.length == 1).toSet
    assert(alphabet.size < vs, s"fixture alphabet ${alphabet.size} must fit under $vs")
    assert(pieces.size <= vs, s"vocab ${pieces.size} exceeds vocabSize $vs")
    // totality: every character that appears in any piece is itself a piece
    pieces.foreach(p => p.foreach(ch =>
      assert(alphabet.contains(ch.toString), s"char '$ch' of piece '$p' pruned")))
  }
}
