package graft

import org.apache.spark.sql.functions._
import graft.operators.Classifier
import graft.functions.ClassifierKernels

/** fastText-style classifier: planted-signal separability, real-corpus
  * language separation, bit-determinism of the default training path,
  * treeAggregate-path agreement, and the codegen scorer ≡ the
  * train-side margin math.
  */
class ClassifierSpec extends SparkSuite {
  import spark.implicits._

  private def planted(n: Int) = {
    // label-1 docs carry the signal tokens, label-0 docs never do;
    // both share a common vocabulary so the bias alone can't win
    val rows = (0 until n).map { i =>
      val common = s"the quick brown fox jumps over lazy dog number ${i % 7}"
      if (i % 2 == 0) (s"$common zorp quux flibber", 1)
      else (s"$common plain ordinary text", 0)
    }
    rows.toDF("text", "y")
  }

  test("planted signal: train accuracy >= 0.98 and generalizes to held-out docs") {
    val w = Classifier.train(planted(400), "text", "y", dim = 1 << 12, iters = 40)
    assert(Classifier.accuracy(planted(400), "text", "y", w, 1 << 12) >= 0.98)
    // held-out: same construction, disjoint filler numbers
    val held = (1000 until 1200).map { i =>
      val common = s"the quick brown fox jumps over lazy dog number ${i % 11}"
      if (i % 2 == 0) (s"$common zorp quux flibber", 1)
      else (s"$common plain ordinary text", 0)
    }.toDF("text", "y")
    assert(Classifier.accuracy(held, "text", "y", w, 1 << 12) >= 0.98)
  }

  test("documents corpus: separates clean text from corrupted text") {
    val docs = Tables(spark, sf, "documents")
    val corrupt = translate(col("text"), "aeiou", "xqzvk")
    val tr = docs.select(col("text"), lit(1).as("y"))
      .unionAll(docs.select(corrupt.as("text"), lit(0).as("y")))
    val w = Classifier.train(tr, "text", "y", dim = 1 << 15, iters = 30, lr = 4.0)
    val acc = Classifier.accuracy(tr, "text", "y", w)
    assert(acc >= 0.99, s"train accuracy $acc")
  }

  test("deterministic path: retrains are bit-identical") {
    val data = planted(300).repartition(4)
    val w1 = Classifier.train(data, "text", "y", dim = 1 << 12, iters = 10)
    val w2 = Classifier.train(data, "text", "y", dim = 1 << 12, iters = 10)
    assert(w1.toSeq === w2.toSeq)
  }

  test("treeAggregate path agrees with the deterministic path") {
    val data = planted(300)
    val wd = Classifier.train(data, "text", "y", dim = 1 << 12, iters = 10)
    val wt = Classifier.train(data, "text", "y", dim = 1 << 12, iters = 10,
      deterministic = false)
    val maxDelta = wd.zip(wt).map { case (a, b) => math.abs(a - b) }.max
    assert(maxDelta < 1e-9, s"max weight delta $maxDelta")
    assert(Classifier.accuracy(data, "text", "y", wt, 1 << 12) >= 0.98)
  }

  test("weight persistence: save/load round-trips exactly; loaded weights score identically") {
    val w = Classifier.train(planted(200), "text", "y", dim = 1 << 10, iters = 10)
    val dir = tempDir("clf_w").toString
    try {
      Classifier.save(spark, w, dir)
      val back = Classifier.load(spark, dir)
      assert(back.toSeq === w.toSeq)
      val d = planted(50)
      val a = d.select(Classifier.score(col("text"), w, 1 << 10)).collect().map(_.getDouble(0))
      val b = d.select(Classifier.score(col("text"), back, 1 << 10)).collect().map(_.getDouble(0))
      assert(a.toSeq === b.toSeq)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("codegen scorer matches the kernel math and handles empty/null text") {
    val dim = 1 << 10
    val w = new Array[Double](dim + 1)
    ClassifierKernels.featIdx("alpha beta gamma", dim).foreach(i => w(i) = 0.7)
    w(dim) = -0.2
    val out = Seq("alpha beta gamma", "", "unrelated words here")
      .toDF("text")
      .select(Classifier.score(col("text"), w, dim).as("s"))
      .collect().map(_.getDouble(0))
    assert(math.abs(out(0) - ClassifierKernels.sigmoid(0.7 - 0.2)) < 1e-12)
    assert(math.abs(out(1) - ClassifierKernels.sigmoid(-0.2)) < 1e-12) // empty → bias only
    assert(out(2) < 0.5)
    // null text → null score, not a crash
    val withNull = Seq(Some("alpha"), None).toDF("text")
      .select(Classifier.score(col("text"), w, dim).as("s"))
      .collect()
    assert(withNull(1).isNullAt(0))
  }
}
