package graft

import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions
import org.apache.datasketches.frequencies.ItemsSketch
import org.apache.spark.sql.catalyst.expressions.aggregate.ApproxTopK

/** Sketch aggregates: rank-error bounds of `percentile_approx` (the
  * tdigest_quantiles builder) vs exact quantiles, HLL accuracy and
  * merge behaviour, the topk_sketch heavy-hitter guarantee, count
  * bounds, NULL skipping and tie order, count-min sketches, and the
  * distributed (partial → shuffle → merge) path through the DataFrame
  * API.
  */
class SketchSpec extends SparkSuite {
  import spark.implicits._

  /** Rank error of `v` as the q-quantile of `sorted`: the distance from
    * q to the rank interval [#(x < v), #(x <= v)] / n that v occupies
    * (the measure tools/check.py applies to q_quantiles_tdigest). A
    * sketch that returns data values needs the interval; for a value
    * between data points both ends are equal. */
  private def rankErr(sorted: Array[Double], v: Double, q: Double): Double = {
    val lo = sorted.count(_ < v).toDouble / sorted.length
    val hi = sorted.count(_ <= v).toDouble / sorted.length
    math.max(0.0, math.max(lo - q, q - hi))
  }

  /** q-quantiles of `data` from percentile_approx at accuracy 100 (the
    * tdigest_quantiles builder), over `parts` partial sketches. */
  private def quantiles(data: Array[Double], qs: Seq[Double], parts: Int): Seq[Double] =
    data.toSeq.toDF("v").repartition(parts)
      .agg(percentile_approx($"v", array(qs.map(lit): _*), lit(100)))
      .first().getSeq[Double](0)

  test("tdigest: rank error within 1% on uniform and heavy-tailed data") {
    val rnd = new scala.util.Random(42)
    val uniform = Array.fill(20000)(rnd.nextDouble() * 1000)
    val pareto = Array.fill(20000)(math.pow(1 - rnd.nextDouble(), -1.5))
    val qs = Seq(0.01, 0.1, 0.5, 0.9, 0.99)
    for (data <- Seq(uniform, pareto)) {
      val sorted = data.sorted
      for ((q, est) <- qs.zip(quantiles(data, qs, 1))) {
        val err = rankErr(sorted, est, q)
        assert(err < 0.01, s"q=$q est=$est rank err $err")
      }
    }
  }

  test("tdigest: merged halves agree with the whole stream within bound") {
    val rnd = new scala.util.Random(7)
    val data = Array.fill(10000)(rnd.nextGaussian() * 50 + 200)
    val sorted = data.sorted
    val qs = Seq(0.1, 0.5, 0.9)
    for ((q, est) <- qs.zip(quantiles(data, qs, 2))) {
      val errMerged = rankErr(sorted, est, q)
      assert(errMerged < 0.015, s"merged rank err $errMerged at q=$q")
    }
  }

  /** (item, count) rows of topk_sketch over a string column `v`. */
  private def topk(df: org.apache.spark.sql.DataFrame, capacity: Int, k: Int): Seq[(String, Long)] =
    df.agg(GraftFunctions.topkSketch($"v", capacity, k)).first()
      .getSeq[org.apache.spark.sql.Row](0).map(r => r.getString(0) -> r.getLong(1))

  test("topk_sketch: every item above the ItemsSketch error bound survives; counts sound") {
    // 5 heavy items over 300 light ones, capacity 64 < 305 distinct:
    // the sketch evicts. Its map holds calMaxMapSize(64) = 128 slots,
    // so its error is at most eps·n with eps = 3.5/128; an item with
    // true count > 2·eps·n keeps a lower bound above the error and is
    // reported, and each reported count lies in [truth, truth + eps·n]
    val heavy = Seq(3000, 2500, 2000, 1500, 1000).zipWithIndex
      .flatMap { case (c, i) => Seq.fill(c)(s"heavy$i") }
    val stream = heavy ++ (1 to 300).flatMap(i => Seq.fill(10)(s"light$i"))
    val df = new scala.util.Random(11).shuffle(stream).toDF("v").repartition(4)
    val exact = stream.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val n = stream.size.toLong
    val eps = ItemsSketch.getEpsilon(ApproxTopK.calMaxMapSize(64))
    val got = topk(df, 64, 64)
    exact.filter(_._2 > 2 * eps * n).keys.foreach(i =>
      assert(got.exists(_._1 == i), s"heavy hitter $i missing from $got"))
    got.foreach { case (item, cnt) =>
      val truth = exact(item)
      assert(truth <= cnt && cnt <= truth + eps * n,
        s"$item: count $cnt outside [$truth, ${truth + eps * n}]")
    }
    assert(got.take(5).map(_._1) == (0 until 5).map(i => s"heavy$i"))
  }

  test("topk_sketch: merge of shards covers shard-spanning heavy hitters") {
    // each shard alone is past its capacity; "big" is heavy only across both
    def shard(tag: String) =
      (Seq.fill(500)("big") ++ (1 to 300).map(i => s"$tag$i")).toDF("v").coalesce(1)
    val top = topk(shard("a").union(shard("b")), 50, 1)
    assert(top.head._1 === "big")
    assert(top.head._2 >= 1000, s"merged estimate ${top.head._2} under-counts")
  }

  test("topk_sketch: exact when capacity >= cardinality (the oracled regime)") {
    val stream = new scala.util.Random(5).shuffle(
      (1 to 8).flatMap(i => Seq.fill(i * 7)(s"v$i")))
    val got = topk(stream.toDF("v").repartition(4), 16, 8)
    assert(got == (8 to 1 by -1).map(i => s"v$i" -> i * 7L))
  }

  test("topk_sketch: skips NULLs and breaks ties at rank k by item") {
    // NULL is the most frequent value; c and a tie at rank 1-2, b and
    // d at rank 3-4, and the input order lists the larger item first
    val df = Seq("c", null, "d", "a", null, "c", "b", null, "a").toDF("v")
    assert(topk(df, 16, 2) == Seq("a" -> 2L, "c" -> 2L))
    assert(topk(df, 16, 3) == Seq("a" -> 2L, "c" -> 2L, "b" -> 1L))
    assert(topk(df.where($"v".isNull), 16, 2).isEmpty)
  }

  test("distributed path: sketch aggregates agree with exact over the documents table") {
    val docs = Tables(spark, sf, "documents")
    // t-digest p50 per source within 2 ranks of the exact median
    val est = docs.repartition(4, $"source")
      .groupBy($"source")
      .agg(percentile_approx($"n_chars".cast("double"), array(lit(0.5)), lit(100)).as("qv"))
      .select($"source", element_at($"qv", 1).as("p50"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val exact = docs.groupBy($"source")
      .agg(expr("percentile(n_chars, 0.5)").as("p50"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val counts = docs.groupBy($"source").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    est.foreach { case (src, p50) =>
      val vals = docs.where($"source" === src).select($"n_chars")
        .collect().map(_.getLong(0).toDouble).sorted
      val err = rankErr(vals, p50, 0.5)
      assert(err <= math.max(0.02, 2.0 / counts(src)),
        s"$src: est $p50 (rank err $err) vs exact ${exact(src)}")
    }
    // topk_sketch with capacity above the cardinality == exact lang counts
    val sk = docs.groupBy($"source")
      .agg(GraftFunctions.topkSketch($"lang", 16, 16).as("top"))
      .select($"source", explode($"top").as("e"))
      .select($"source", $"e.item".as("lang"), $"e.count".as("cnt"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val exactLang = docs.groupBy($"source", $"lang").count()
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(sk === exactLang)
  }

  private def hllOf(df: org.apache.spark.sql.DataFrame, parts: Int): Long =
    df.repartition(parts).agg(GraftFunctions.hllDistinct($"v"))
      .first().getLong(0)

  test("hll: estimate within 3% at 100k distinct; merge == whole stream") {
    // past its coupon modes the sketch holds registers: the estimate
    // reads them alone, not the order the partials were merged in
    val ids = spark.range(100000L).toDF("v")
    val whole = hllOf(ids, 1)
    val err = math.abs(whole - 100000L) / 100000.0
    assert(err < 0.03, s"estimate $whole err $err")
    assert(hllOf(ids, 8) === whole)
    assert(hllOf(ids, 3) === whole)
  }

  test("hll: near-exact at low cardinality; merge == whole stream") {
    // at these cardinalities a p=14 sketch still holds its coupons, not
    // registers, so a union of partials is the whole-stream sketch
    for (n <- Seq(500L, 1500L)) {
      val ids = spark.range(n).toDF("v")
      val whole = hllOf(ids, 1)
      assert(math.abs(whole - n) <= 5, s"n=$n: got $whole")
      assert(hllOf(ids, 8) === whole)
    }
  }

  test("distributed path: hll per-group estimates track exact distinct counts") {
    val ev = Tables(spark, sf, "events")
    val est = ev.repartition(8)
      .groupBy($"event_type")
      .agg(GraftFunctions.hllDistinct($"user_id").as("est"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = ev.groupBy($"event_type")
      .agg(countDistinct($"user_id").as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    exact.foreach { case (t, n) =>
      val e = est(t)
      assert(math.abs(e - n) <= math.max(3.0, 0.03 * n),
        s"$t: est $e vs exact $n")
    }
  }

  test("hll skips nulls, matching count(DISTINCT) semantics exactly") {
    val df = Seq(Some("a"), Some("b"), None, Some("a"), None, Some("c"))
      .toDF("v")
    val row = df.agg(
      GraftFunctions.hllDistinct($"v").as("est"),
      countDistinct($"v").as("exact")).first()
    assert(row.getLong(0) === 3L && row.getLong(1) === 3L)
    // all-null input estimates zero, like count(DISTINCT)
    val allNull = Seq[Option[String]](None, None).toDF("v")
      .agg(GraftFunctions.hllDistinct($"v")).first().getLong(0)
    assert(allNull === 0L)
  }

  test("count-min sketch: bounded, mass-preserving, never undercounts; merge == whole") {
    import graft.operators.Cms
    // 50 distinct keys with skewed counts (key i appears i times)
    val df = (1 to 50).flatMap(i => Seq.fill(i)(s"k$i")).toDF("k")
    val n = df.count()
    val sk = Cms.build(df, "k", d = 4, w = 64)
    assert(sk.count() <= 4L * 64)
    // every hash row carries the full mass
    val mass = sk.groupBy($"r").agg(sum($"cnt").as("m")).collect()
    assert(mass.length == 4 && mass.forall(_.getLong(1) == n))
    // the CMS guarantee, corpus-wide: est >= true for EVERY key
    val est = Cms.estimate(df.distinct(), "k", sk, d = 4, w = 64)
    val exact = df.groupBy($"k").agg(count(lit(1)).as("n_true"))
    val joined = est.join(exact, Seq("k"))
    assert(joined.where($"est" < $"n_true").count() == 0)
    // at this load factor (50 keys, 4x64 buckets) most keys are exact
    assert(joined.where($"est" === $"n_true").count() >= 40)
    // shard-and-merge equals building over the whole corpus
    val Array(a, b) = df.randomSplit(Array(0.5, 0.5), seed = 7)
    val merged = Cms.merge(Cms.build(a, "k", 4, 64), Cms.build(b, "k", 4, 64))
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    val whole = sk.collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(merged == whole)
    // the production xxhash kernel satisfies the same guarantees
    val skF = Cms.build(df, "k", d = 4, w = 64, portable = false)
    assert(skF.groupBy($"r").agg(sum($"cnt").as("m")).collect()
      .forall(_.getLong(1) == n))
    val estF = Cms.estimate(df.distinct(), "k", skF, d = 4, w = 64, portable = false)
    assert(estF.join(exact, Seq("k")).where($"est" < $"n_true").count() == 0)
  }

  test("cms join-size estimate: never undercounts; disjoint keys estimate ~zero") {
    import graft.operators.Cms
    val a = Seq.fill(3)("x").++(Seq.fill(2)("y")).toDF("k")
    val b = Seq.fill(4)("x").++(Seq.fill(5)("z")).toDF("k")
    // true |A ⋈ B| on k: only x matches → 3·4 = 12
    val est = Cms.joinSizeEstimate(
      Cms.build(a, "k", d = 4, w = 64), Cms.build(b, "k", d = 4, w = 64))
      .first().getLong(0)
    assert(est >= 12, s"AMS estimate must not undercount: $est")
    // with 3 distinct keys in 4×64 buckets the min row is collision-
    // free, so the estimate is exact here
    assert(est == 12, s"expected exact on this fixture, got $est")
    // disjoint key sets: some hash row has no shared bucket → min 0
    val dA = Seq("p", "q").toDF("k")
    val dB = Seq("u", "v").toDF("k")
    val dEst = Cms.joinSizeEstimate(
      Cms.build(dA, "k", d = 4, w = 64), Cms.build(dB, "k", d = 4, w = 64))
      .first().getLong(0)
    assert(dEst == 0, s"disjoint keys should estimate 0, got $dEst")
    // self-join estimate bounds the true second moment from above
    val selfTrue = 3L * 3 + 2L * 2
    val selfEst = Cms.joinSizeEstimate(
      Cms.build(a, "k", d = 4, w = 64), Cms.build(a, "k", d = 4, w = 64))
      .first().getLong(0)
    assert(selfEst >= selfTrue)
    // the row universe comes from the sketches, so a non-default d
    // does NOT zero the estimate (the d-parameter mismatch bug)
    val est2 = Cms.joinSizeEstimate(
      Cms.build(a, "k", d = 2, w = 64), Cms.build(b, "k", d = 2, w = 64))
      .first().getLong(0)
    assert(est2 >= 12, s"d=2 sketches must still never undercount: $est2")
    // two EMPTY sketches: zero rows on both sides must estimate 0,
    // not a NULL that breaks downstream planner arithmetic
    val empty = Cms.build(a.where($"k" === "nope"), "k", d = 4, w = 64)
    val eRow = Cms.joinSizeEstimate(empty, empty).first()
    assert(!eRow.isNullAt(0) && eRow.getLong(0) == 0L,
      s"empty sketches should estimate 0, got $eRow")
  }

  test("hex_slice_long equals conv(substring, 16, 10) on md5 hex — the oracle contract") {
    import graft.functions.TextHashFunctions.hex_slice_long
    // the codegen'd bucket kernel must be VALUE-identical to the SQL
    // form the DuckDB oracle replays, across all four slice offsets
    val hexes = Tables(spark, sf, "lineitem").limit(2000)
      .select(md5(concat(lit("cms:"), $"l_partkey".cast("string"))).as("h"))
    val mismatches = (0 until 4).map { r =>
      hexes.where(hex_slice_long($"h", 1 + 8 * r) =!=
        conv(substring($"h", 1 + 8 * r, 8), 16, 10).cast("long")).count()
    }.sum
    assert(mismatches == 0L, s"$mismatches slice mismatches")
    // conv edge behaviors the kernel mirrors: short input, non-hex tail
    val edge = Seq("ff", "f!aa", "ABCDEF01").toDF("h")
    val got = edge.select(hex_slice_long($"h", 1).as("v"),
      conv(substring($"h", 1, 8), 16, 10).cast("long").as("w")).collect()
    got.foreach(r => assert(r.getLong(0) == r.getLong(1), r.toString))
    // the ONE documented divergence: a slice entirely past the end
    // parses to 0, where conv(substring) = conv('') = NULL — callers
    // must not rely on NULL propagation (unreachable from md5 sites)
    val past = Seq(Tuple1("ff")).toDF("h")
      .select(hex_slice_long($"h", 9).as("v"),
        conv(substring($"h", 9, 8), 16, 10).cast("long").as("w")).first()
    assert(!past.isNullAt(0) && past.getLong(0) == 0L && past.isNullAt(1))
  }
}
