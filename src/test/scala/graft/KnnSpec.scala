package graft

import graft.operators.Knn
import org.apache.spark.sql.functions._

/** ANN contracts (SURVEY §2.9): brute force is the exactness baseline;
  * the LSH-bucketed path must reach a recall floor against it.
  */
class KnnSpec extends SparkSuite {

  private def emb = Tables(spark, sf, "embeddings")

  test("brute force: k rows per query, ranked by similarity, no self") {
    val q = emb.where(col("vec_id") < 5)
    val res = Knn.bruteForceTopK(q, emb, "vec_id", "embedding", k = 10).cache()
    val perQuery = res.groupBy("q_id").count().collect()
    assert(perQuery.length == 5 && perQuery.forall(_.getLong(1) == 10))
    assert(res.where(col("q_id") === col("n_id")).count() == 0)
    // rank 1 has the max cos within each query group
    val bad = res.alias("r").join(res.alias("m"), Seq("q_id"))
      .where(col("r.rank") === 1 && col("m.cos") > col("r.cos")).count()
    assert(bad == 0)
    res.unpersist()
  }

  test("cosine of identical vectors is 1") {
    val res = Knn.bruteForceTopK(emb.where(col("vec_id") < 5), emb,
      "vec_id", "embedding", k = 3, excludeSelf = false)
    assert(res.where(col("n_id") === col("q_id") && col("cos") < 0.99999).count() == 0)
  }

  test("codegen cosine kernel is bit-identical to the HOF formulation it replaced") {
    // the kernel replicates the fold order (dot ascending, |a|², |b|²)
    // exactly — full 64-bit equality on real embedding pairs, no
    // rounding tolerance
    def hofCosine(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) = {
      val dot = aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
        lit(0.0), (acc, v) => acc + v)
      val na = aggregate(a, lit(0.0), (acc, v) => acc + v.cast("double") * v.cast("double"))
      val nb = aggregate(b, lit(0.0), (acc, v) => acc + v.cast("double") * v.cast("double"))
      dot / (sqrt(na) * sqrt(nb))
    }
    val a = emb.where(col("vec_id") < 15)
      .select(col("vec_id").as("a"), col("embedding").as("va"))
    val b = emb.where(col("vec_id") < 15)
      .select(col("vec_id").as("b"), col("embedding").as("vb"))
    val pairs = a.join(b, col("a") < col("b"))
      .select(Knn.cosine(col("va"), col("vb")).as("kernel"),
        hofCosine(col("va"), col("vb")).as("hof"))
    assert(pairs.count() > 50)
    assert(pairs.where(col("kernel") =!= col("hof")).count() == 0,
      "kernel and HOF cosine diverged")
  }

  test("cosine kernel accepts any numeric element type") {
    // int/long vectors widened to double exactly like the HOF
    // formulation the kernel replaced — no regression for callers with
    // array<int> embeddings
    val df = spark.sql(
      """SELECT array(1, 2, 3) AS vi, array(bigint(1), bigint(2), bigint(3)) AS vl,
        |  array(double(1), double(2), double(3)) AS vd,
        |  array(float(3), float(2), float(1)) AS vf""".stripMargin)
    val r = df.select(
      Knn.cosine(col("vi"), col("vd")).as("ii"),
      Knn.cosine(col("vl"), col("vd")).as("ll"),
      Knn.cosine(col("vi"), col("vf")).as("mixed")).first()
    assert(math.abs(r.getDouble(0) - 1.0) < 1e-12)
    assert(math.abs(r.getDouble(1) - 1.0) < 1e-12)
    assert(math.abs(r.getDouble(2) - 10.0 / 14.0) < 1e-12)
    // non-numeric arrays still fail loudly
    intercept[Exception](
      df.select(Knn.cosine(array(lit("a")), col("vd"))).collect())
  }

  test("multi-table LSH recall vs brute force >= 0.5") {
    // the synthetic embeddings are near-random (top-10 neighbor cos ~
    // 0.3), the hardest case for LSH — multi-table + 1-bit probing is
    // what buys recall here. Real clustered corpora reach the same
    // recall with far fewer candidates.
    val q = emb.where(col("vec_id") < 10)
    val exact = Knn.bruteForceTopK(q, emb, "vec_id", "embedding", k = 10)
      .select("q_id", "n_id")
    val approx = Knn.lshTopK(q, emb, "vec_id", "embedding", k = 10,
      bits = 5, tables = 6, probes = 1).select("q_id", "n_id")
    val hit = approx.intersect(exact).count().toDouble
    val recall = hit / exact.count()
    assert(recall >= 0.5, s"LSH recall $recall below floor")
  }

  test("IVF recall vs brute force >= 0.5 probing 4/16 cells") {
    val q = emb.where(col("vec_id") < 10)
    val exact = Knn.bruteForceTopK(q, emb, "vec_id", "embedding", k = 10)
      .select("q_id", "n_id")
    val approx = Knn.ivfTopK(q, emb, "vec_id", "embedding", k = 10,
      cells = 16, probes = 4).select("q_id", "n_id")
    val recall = approx.intersect(exact).count().toDouble / exact.count()
    assert(recall >= 0.5, s"IVF recall $recall below floor")
  }

  test("IVF centroids: deterministic, unit norm, cells x dim only") {
    val c1 = Knn.trainIvfCentroids(emb, "vec_id", "embedding", cells = 8)
    val c2 = Knn.trainIvfCentroids(emb, "vec_id", "embedding", cells = 8)
    assert(c1.length == 8 && c1.forall(_.length == 64))
    assert(c1.zip(c2).forall { case (a, b) => a.sameElements(b) })
    c1.foreach { v =>
      val n = math.sqrt(v.map(x => x * x).sum)
      assert(math.abs(n - 1.0) < 1e-9)
    }
  }

  test("LSH derives hyperplane width from the data (non-64-dim vectors)") {
    import spark.implicits._
    // 128-dim vectors where ALL the signal lives in dims 64..127: a
    // 64-dim-prefix bucketing (the old hard-coded width) sees pure
    // noise and recall collapses; data-derived width must find the
    // planted identical pairs
    val rng = new scala.util.Random(11)
    val base = Array.fill(4)(Array.fill(128)(rng.nextFloat() - 0.5f)
      .zipWithIndex.map { case (v, i) => if (i < 64) 0.001f * v else v })
    val rows = (0 until 40).map { i =>
      val v = base(i % 4).clone()
      v(64 + i % 8) = v(64 + i % 8) + 0.01f * (i / 4)
      (i.toLong, v.toSeq)
    }
    val df = rows.toDF("vec_id", "embedding")
    val q = df.where(col("vec_id") < 4)
    val exact = Knn.bruteForceTopK(q, df, "vec_id", "embedding", k = 5)
      .select("q_id", "n_id")
    val approx = Knn.lshTopK(q, df, "vec_id", "embedding", k = 5,
      bits = 5, tables = 6, probes = 1).select("q_id", "n_id")
    val recall = approx.intersect(exact).count().toDouble / exact.count()
    assert(recall >= 0.5, s"derived-width LSH recall $recall below floor")
  }

  test("more tables/probes never reduce candidate coverage") {
    val q = emb.where(col("vec_id") < 5)
    val r0 = Knn.lshTopK(q, emb, "vec_id", "embedding", k = 10,
      bits = 6, tables = 1, probes = 0).count()
    val r3 = Knn.lshTopK(q, emb, "vec_id", "embedding", k = 10,
      bits = 6, tables = 4, probes = 2).count()
    assert(r3 >= r0)
  }

  test("int8 quantized top-k: recall >= 0.9 vs the float baseline") {
    val q = emb.where(col("vec_id") < 10)
    val exact = Knn.bruteForceTopK(q, emb, "vec_id", "embedding", k = 10)
      .select("q_id", "n_id")
    val quant = Knn.bruteQuantTopK(q, emb, "vec_id", "embedding", k = 10)
    // shape contract matches bruteForceTopK
    val perQuery = quant.groupBy("q_id").count().collect()
    assert(perQuery.length == 10 && perQuery.forall(_.getLong(1) == 10))
    val recall = quant.select("q_id", "n_id").intersect(exact).count().toDouble /
      exact.count()
    assert(recall >= 0.9, s"int8 recall $recall below floor")
  }

  test("PQ top-k: recall >= 0.5 vs brute force at 16 bytes/vector") {
    // near-random embeddings are PQ's worst case (no cluster structure
    // for the codebooks to exploit); the 0.5 floor at 16x compression
    // mirrors the LSH/IVF floors. Deterministic: hash-ordered seeds.
    val q = emb.where(col("vec_id") < 10)
    val exact = Knn.bruteForceTopK(q, emb, "vec_id", "embedding", k = 10)
      .select("q_id", "n_id")
    val pq = Knn.pqTopK(q, emb, "vec_id", "embedding", k = 10)
    val perQuery = pq.groupBy("q_id").count().collect()
    assert(perQuery.length == 10 && perQuery.forall(_.getLong(1) == 10))
    val recall = pq.select("q_id", "n_id").intersect(exact).count().toDouble /
      exact.count()
    assert(recall >= 0.5, s"PQ recall $recall below floor")
  }

  test("PQ codebooks: deterministic, m x ksub x dim/m, codes are m bytes") {
    val cb1 = Knn.trainPqCodebooks(emb, "vec_id", "embedding", m = 16, ksub = 64)
    val cb2 = Knn.trainPqCodebooks(emb, "vec_id", "embedding", m = 16, ksub = 64)
    assert(cb1.length == 16 && cb1.forall(b => b.length == 64 && b.forall(_.length == 4)))
    assert(cb1.zip(cb2).forall { case (a, b) =>
      a.zip(b).forall { case (x, y) => x.sameElements(y) } })
    import graft.functions.PqFunctions._
    val bytes = emb.limit(20)
      .select(octet_length(pq_encode(col("embedding"), cb1)).as("n"))
      .collect()
    assert(bytes.forall(_.getInt(0) == 16), "codes must be m bytes") // was 256 B float32
  }

  test("PQ self-similarity: a vector scored against its own codes stays high") {
    val cb = Knn.trainPqCodebooks(emb, "vec_id", "embedding", m = 16, ksub = 64)
    import graft.functions.PqFunctions._
    val worst = emb.where(col("vec_id") < 50)
      .select(pq_cosine(col("embedding"),
        pq_encode(col("embedding"), cb), cb).as("c"))
      .agg(min(col("c"))).first().getDouble(0)
    assert(worst >= 0.85, s"reconstruction cosine floor violated: $worst")
  }

  test("IVFPQ composition: probe-pruned + compressed, recall above the compound floor") {
    // compound approximation (IVF prunes cells, PQ approximates
    // scores) — the floor is the product of the component floors, not
    // either alone
    val q = emb.where(col("vec_id") < 10)
    val exact = Knn.bruteForceTopK(q, emb, "vec_id", "embedding", k = 10)
      .select("q_id", "n_id")
    val res = Knn.ivfPqTopK(q, emb, "vec_id", "embedding", k = 10,
      cells = 16, probes = 4)
    val recall = res.select("q_id", "n_id").intersect(exact).count().toDouble /
      exact.count()
    assert(recall >= 0.3, s"IVFPQ recall $recall below compound floor")
    // every query still fills k slots (probing 4/16 cells retains
    // enough candidates on the fixture corpus)
    val perQuery = res.groupBy("q_id").count().collect()
    assert(perQuery.length == 10 && perQuery.forall(_.getLong(1) == 10))
  }

  test("index persistence: save/load round-trips IVF centroids and PQ codebooks exactly") {
    val emb = Tables(spark, sf, "embeddings")
    val cents = Knn.trainIvfCentroids(emb, "vec_id", "embedding", cells = 8)
    val cb = Knn.trainPqCodebooks(emb, "vec_id", "embedding", m = 8, ksub = 16)
    val dir = tempDir("graft_index").toString
    try {
      Knn.saveIvfIndex(spark, cents, s"$dir/ivf")
      Knn.savePqCodebooks(spark, cb, s"$dir/pq")
      val cents2 = Knn.loadIvfIndex(spark, s"$dir/ivf")
      val cb2 = Knn.loadPqCodebooks(spark, s"$dir/pq")
      assert(cents2.length == cents.length &&
        cents.zip(cents2).forall { case (a, b) => a.sameElements(b) },
        "centroids must round-trip bit-exactly")
      assert(cb2.length == cb.length && cb.indices.forall(j =>
        cb(j).zip(cb2(j)).forall { case (a, b) => a.sameElements(b) }),
        "codebooks must round-trip bit-exactly")
      // probing with the loaded index reproduces the direct call
      import org.apache.spark.sql.functions.col
      val q = emb.where(col("vec_id") < 5)
      val direct = Knn.ivfTopKWith(cents, q, emb, "vec_id", "embedding", k = 5)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
      val loaded = Knn.ivfTopKWith(cents2, q, emb, "vec_id", "embedding", k = 5)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
      assert(direct == loaded)
      val pqDirect = Knn.pqTopKWith(cb, q, emb, "vec_id", "embedding", k = 5)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
      val pqLoaded = Knn.pqTopKWith(cb2, q, emb, "vec_id", "embedding", k = 5)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
      assert(pqDirect == pqLoaded)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("IVF refresh: balanced growth keeps the table; skewed growth splits the hot cell") {
    import graft.functions.VectorFunctions
    val base = emb.where(col("vec_id") >= 100)
    val cents = Knn.trainIvfCentroids(base, "vec_id", "embedding", cells = 8)
    // balanced: no cell above the split threshold — frozen table back
    assert(Knn.refreshIvfCentroids(cents, base, "vec_id", "embedding") eq cents)
    // empty refresh batch: nothing to histogram, frozen table back
    assert(Knn.refreshIvfCentroids(cents, base.where(lit(false)),
      "vec_id", "embedding") eq cents)

    // skewed: a dense new topic lands 10 clone generations of the
    // hottest cell's members — that one cell grows ~4×
    val assigned = base.select(col("vec_id"), col("embedding"),
      VectorFunctions.ivf_cell(col("embedding"), cents).as("cell"))
    val hot = assigned.groupBy(col("cell")).count()
      .orderBy(col("count").desc, col("cell")).head().getInt(0)
    val donors = assigned.where(col("cell") === hot)
      .orderBy(col("vec_id")).limit(30).select(col("vec_id"), col("embedding"))
    val grown = (1 to 10).map(g =>
        donors.select((col("vec_id") + g * 100000).as("vec_id"), col("embedding"),
          lit(s"clone$g").as("label")))
      .foldLeft(base)(_ unionByName _)

    val cents2 = Knn.refreshIvfCentroids(cents, grown, "vec_id", "embedding",
      splitFactor = 3.0)
    assert(cents2.length > cents.length, "hot cell should have split")
    // frozen slots: every non-split original centroid is bit-identical
    val unchanged = cents.indices.count(i => cents2(i).sameElements(cents(i)))
    assert(unchanged >= cents.length - 2, s"only split slots may move ($unchanged)")
    cents2.foreach { v =>
      val n = math.sqrt(v.map(x => x * x).sum)
      assert(math.abs(n - 1.0) < 1e-9)
    }

    // appended-index recall ≡ full-retrain recall on the grown corpus
    val q = grown.where(col("vec_id") >= 100 && col("vec_id") < 110)
    val exact = Knn.bruteForceTopK(q, grown, "vec_id", "embedding", k = 10)
      .select("q_id", "n_id")
    def recallOf(table: Array[Array[Double]]): Double = {
      val approx = Knn.ivfTopKWith(table, q, grown, "vec_id", "embedding",
        k = 10, probes = 3).select("q_id", "n_id")
      approx.intersect(exact).count().toDouble / exact.count()
    }
    val retrained = Knn.trainIvfCentroids(grown, "vec_id", "embedding",
      cells = cents2.length)
    val rRefreshed = recallOf(cents2)
    val rRetrained = recallOf(retrained)
    assert(rRefreshed >= rRetrained - 0.1,
      s"refreshed recall $rRefreshed vs retrained $rRetrained")
    assert(rRefreshed >= 0.5, s"refreshed recall $rRefreshed below floor")
  }

  test("int8 quantization: cosine error is small, payload is 1 byte/dim") {
    import graft.functions.VectorFunctions._
    val pairs = emb.where(col("vec_id") < 30).alias("a")
      .crossJoin(emb.where(col("vec_id") >= 30 && col("vec_id") < 60).alias("b"))
      .select(
        cosine_sim(col("a.embedding"), col("b.embedding")).as("f"),
        int8_cosine(quantize_int8(col("a.embedding")),
          quantize_int8(col("b.embedding"))).as("q"),
        org.apache.spark.sql.functions.octet_length(
          quantize_int8(col("a.embedding"))).as("bytes"))
    val rows = pairs.collect()
    assert(rows.forall(_.getInt(2) == 64)) // 64-dim → 64 bytes, was 256
    val maxErr = rows.map(r => math.abs(r.getDouble(0) - r.getDouble(1))).max
    assert(maxErr < 0.02, s"int8 cosine drifts $maxErr from float cosine")
  }

  test("hard-negative mining: pos shares the anchor's label, neg does not, both are the nearest such") {
    val anchors = emb.where(col("vec_id") < 20)
    val t = Knn.miningTriplets(anchors, emb, "vec_id", "embedding", "label")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getDouble(2), r.getLong(3), r.getDouble(4))).toMap
    assert(t.size == 20, s"every anchor must pair (got ${t.size})")
    val labels = emb.select(col("vec_id"), col("label"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    // cross-check against the FULL ranking (k = corpus size)
    val top = Knn.bruteForceTopK(anchors, emb, "vec_id", "embedding",
        k = labels.size)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    t.foreach { case (q, (posId, posCos, negId, negCos)) =>
      assert(labels(posId) == labels(q), s"anchor $q: positive $posId label mismatch")
      assert(labels(negId) != labels(q), s"anchor $q: negative $negId shares label")
      val mine = top.filter(_._1 == q).sortBy(_._4)
      val firstSame = mine.find(e => labels(e._2) == labels(q)).get
      val firstDiff = mine.find(e => labels(e._2) != labels(q)).get
      assert(firstSame._2 == posId && firstSame._3 == posCos)
      assert(firstDiff._2 == negId && firstDiff._3 == negCos)
    }
    // IVF-pruned variant: same shape, every anchor still pairs as long
    // as its probed cells span two labels
    val cents = Knn.trainIvfCentroids(emb, "vec_id", "embedding", 16)
    val tIvf = Knn.miningTriplets(anchors, emb, "vec_id", "embedding", "label",
      cents = Some(cents)).collect()
    assert(tIvf.length >= t.size / 2, "IVF mining lost too many anchors")
  }

  test("coreset sampling covers every occupied LSH bucket, capped at k per bucket") {
    val q = SparkEntry.queries("q_sample_coreset")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val planes = Knn.hyperplanes(bits = 6, dim = 64)
    val occupied = emb.select(Knn.lshBucket(col("embedding"), planes).as("b"))
      .groupBy(col("b")).count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val perBucket = q.groupBy(_._1).view.mapValues(_.length).toMap
    occupied.foreach { case (b, n) =>
      assert(perBucket.getOrElse(b, 0) == math.min(n, 8L).toInt,
        s"bucket $b: expected ${math.min(n, 8L)} reps, got ${perBucket.getOrElse(b, 0)}")
    }
    // ranks are 1..k and contiguous within each bucket
    q.groupBy(_._1).foreach { case (b, rows) =>
      assert(rows.map(_._2).sorted.toSeq == (1L to rows.length).toSeq, s"bucket $b ranks")
    }
  }

  test("hard-negative mining on a label-clustered corpus still finds negatives") {
    // tight per-label clusters: every near neighbor shares the label —
    // the regime where a shared top-k cut would return zero triplets
    import spark.implicits._
    val base = Map(0 -> Array(1f, 0f, 0f, 0f), 1 -> Array(0f, 1f, 0f, 0f),
      2 -> Array(0f, 0f, 1f, 0f))
    val rows = (0 until 90).map { i =>
      val lab = i % 3
      val v = base(lab).clone()
      v(3) = (i / 3).toFloat * 1e-3f // tiny within-cluster spread
      (i.toLong, v.toSeq, lab)
    }
    val df = rows.toDF("vec_id", "embedding", "label")
      .select($"vec_id", $"embedding".cast("array<float>").as("embedding"), $"label")
    val t = Knn.miningTriplets(df.where($"vec_id" < 9), df,
      "vec_id", "embedding", "label").collect()
    assert(t.length == 9, s"all anchors must pair on a clustered corpus (got ${t.length})")
    t.foreach { r =>
      assert(r.getDouble(2) > 0.99, "positive is within the anchor's tight cluster")
      assert(r.getDouble(4) < 0.1, "negative comes from another cluster")
    }
  }

  test("mmr selection: near-duplicate of the top hit loses its slot to a diverse item") {
    import spark.implicits._
    def v(x: Double, y: Double) = Array(x.toFloat, y.toFloat)
    // 1 and 2 are near-identical high-relevance items; 3 is less
    // relevant but orthogonal — MMR at λ=0.5 picks 1 then 3, demoting
    // the duplicate 2; pure relevance order would pick 1 then 2
    val cands = Seq(
      (1L, v(1, 0), 0.95), (2L, v(0.999, 0.04), 0.94), (3L, v(0, 1), 0.60))
      .toDF("vec_id", "embedding", "rel")
    val out = Knn.mmrSelect(cands, "vec_id", "embedding", "rel",
      k = 2, lambda = 0.5, poolK = 10).collect()
      .map(r => (r.getLong(0), r.getInt(3)))
    assert(out.toSeq == Seq((1L, 1), (3L, 2)), s"got ${out.toSeq}")
    // at λ=1 MMR degenerates to pure relevance order
    val rel = Knn.mmrSelect(cands, "vec_id", "embedding", "rel",
      k = 3, lambda = 1.0, poolK = 10).collect().map(_.getLong(0))
    assert(rel.toSeq == Seq(1L, 2L, 3L))
    // k larger than the pool returns the whole pool
    assert(Knn.mmrSelect(cands, "vec_id", "embedding", "rel",
      k = 3, lambda = 0.5, poolK = 10).count() == 3)
    // id type passes through untouched (string ids work, like the
    // rest of the Knn family) and NaN/null relevance rows drop out
    // instead of poisoning the pool
    val strCands = Seq(
      ("a", v(1, 0), 0.9), ("b", v(0, 1), 0.5),
      ("bad", v(1, 1), Double.NaN))
      .toDF("doc_id", "embedding", "rel")
    val strOut = Knn.mmrSelect(strCands, "doc_id", "embedding", "rel",
      k = 3, lambda = 0.5, poolK = 10).collect()
    assert(strOut.map(_.getString(0)).toSeq == Seq("a", "b"))
  }

  test("margin mining: true pair beats hub despite lower raw cosine; threshold filters") {
    import spark.implicits._
    // src 1 has a genuine translation (tgt 10, cos≈1) in a sparse
    // neighborhood; src 2 sits in a dense "hub" region where EVERY
    // target is similar — raw cosine would accept both, the margin
    // keeps only the genuine pair
    def v(x: Double, y: Double) = Array(x.toFloat, y.toFloat)
    val src = Seq((1L, v(1, 0)), (2L, v(0, 1))).toDF("vec_id", "embedding")
    val tgt = Seq(
      (10L, v(0.99, 0.14)),                       // src 1's true match
      (11L, v(0.5, -0.87)), (12L, v(0.4, -0.92)), // far from src 1
      (20L, v(0.1, 0.995)), (21L, v(0.12, 0.993)),// the hub: all ≈ src 2
      (22L, v(0.09, 0.996)), (23L, v(0.11, 0.994)))
      .toDF("vec_id", "embedding")
    val all = Knn.marginMining(src, tgt, "vec_id", "embedding",
      k = 3, threshold = 0.0).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(3))).toMap
    // both sources matched into the right target region
    assert(all(1L)._1 == 10L && Set(20L, 21L, 22L, 23L).contains(all(2L)._1))
    // the sparse-neighborhood true pair carries a clearly higher margin
    assert(all(1L)._2 > all(2L)._2 + 0.1,
      s"true pair margin ${all(1L)._2} must beat hub margin ${all(2L)._2}")
    // thresholding between the two margins keeps only the true pair
    val kept = Knn.marginMining(src, tgt, "vec_id", "embedding",
      k = 3, threshold = (all(1L)._2 + all(2L)._2) / 2).collect()
    assert(kept.map(_.getLong(0)).toSeq == Seq(1L))
  }

  test("recallCurve: one row per level, shrinking candidate sets, mid level replicated from trusted primitives") {
    val q = emb.where(col("vec_id") < 10)
    val rows = Knn.recallCurve(q, emb, "vec_id", "embedding", k = 10,
      bits = 8, levels = Seq(2, 4, 6, 8)).collect()
    assert(rows.map(_.getInt(0)).toSeq == Seq(2, 4, 6, 8))
    assert(rows.forall(_.getLong(1) == 10))
    val cands = rows.map(_.getDouble(2))
    assert(cands.zip(cands.tail).forall { case (a, b) => a >= b },
      s"longer prefixes must prune candidates: ${cands.toSeq}")
    assert(rows.forall(r => r.getDouble(3) >= 0.0 && r.getDouble(3) <= 1.0))
    // independent replication of the b=4 row: per query, candidates =
    // same 4-bit prefix (computed with the already-pinned lshBucket),
    // approx top-k = bruteForceTopK over JUST that candidate set, hits
    // counted against the global brute truth
    val planes = Knn.hyperplanes(bits = 8, dim = 64, seed = 42L)
    val withPfx = emb.select(col("vec_id"), col("embedding"),
      shiftright(Knn.lshBucket(col("embedding"), planes), 4).as("pfx")).cache()
    val truth = Knn.bruteForceTopK(q, emb, "vec_id", "embedding", k = 10)
      .select("q_id", "n_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val qRows = withPfx.where(col("vec_id") < 10)
      .select("vec_id", "pfx").collect()
    var totHits = 0.0
    var totCand = 0.0
    qRows.foreach { r =>
      val qid = r.getLong(0)
      val cand = withPfx.where(col("pfx") === r.getLong(1) && col("vec_id") =!= qid)
      totCand += cand.count().toDouble
      val top = Knn.bruteForceTopK(withPfx.where(col("vec_id") === qid), cand,
        "vec_id", "embedding", k = 10).select("q_id", "n_id").collect()
      totHits += top.count(x => truth((x.getLong(0), x.getLong(1))))
    }
    withPfx.unpersist()
    val lvl4 = rows.find(_.getInt(0) == 4).get
    assert(math.abs(lvl4.getDouble(2) - totCand / 10) < 1e-6,
      s"avg_candidates ${lvl4.getDouble(2)} != ${totCand / 10}")
    assert(math.abs(lvl4.getDouble(3) - totHits / 100) < 1e-6,
      s"mean_recall ${lvl4.getDouble(3)} != ${totHits / 100}")
  }

  test("margin mining IVF path equals brute at full probes and prunes the per-query scan") {
    val emb = Tables(spark, sf, "embeddings")
    val src = emb.where(col("vec_id") < 20)
    val tgt = emb.where(col("vec_id") >= 20)
    val cents = Knn.trainIvfCentroids(tgt, "vec_id", "embedding", cells = 4)
    def fmt(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
      .toSet
    val brute = fmt(Knn.marginMining(src, tgt, "vec_id", "embedding",
      k = 3, threshold = 0.0))
    // probes = cells ⇒ every cell probed ⇒ the IVF candidate set IS the
    // corpus, so the wiring must reproduce brute exactly
    val ivfFull = Knn.marginMining(src, tgt, "vec_id", "embedding",
      k = 3, threshold = 0.0, cents = Some(cents), probes = 4)
    assert(fmt(ivfFull) == brute,
      "IVF margin mining at full probes must equal the brute-force variant")
    assert(brute.nonEmpty)
    // scale pin: the brute path compares every query against the whole
    // corpus through a BroadcastNestedLoopJoin; the IVF path must
    // replace it with cell-keyed hash joins (per-query scan pruned to
    // the probed cells) — no nested-loop anywhere in the plan
    val plan = ivfFull.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"IVF path must not scan the corpus per query:\n$plan")
    assert(plan.contains("BroadcastHashJoin"), s"expected cell-keyed joins:\n$plan")
    // reduced probes stay a valid mining (subset semantics: rank-1
    // neighbors found within probed cells; margins still computed)
    val ivfPruned = Knn.marginMining(src, tgt, "vec_id", "embedding",
      k = 3, threshold = 0.0, cents = Some(cents), probes = 2)
    assert(fmt(ivfPruned).nonEmpty)
  }
}
