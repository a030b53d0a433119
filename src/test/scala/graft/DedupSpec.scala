package graft

import graft.operators.Dedup
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.StatusStoreProbe

/** Planted-duplicate contracts for the dedup operators (SURVEY §2.9):
  * the LSH paths must recover perturbed copies, and the codegen
  * shingle expression must agree with the slow HOF reference
  * implementation kept in Dedup.shingles.
  */
class DedupSpec extends SparkSuite {

  private def docs = Tables(spark, sf, "documents").select(col("doc_id"), col("text"))

  /** Connected components of an edge list by union-find on the driver:
    * id -> minimum member id, the contract of [[Dedup.clusters]].
    */
  private def unionFind(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    // linking the larger root under the smaller keeps each root its
    // component's minimum
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.toList.map(x => x -> find(x)).toMap
  }

  /** corpus ∪ near-dup copies (id+100000) of the first 20 docs. */
  private def planted = {
    val copies = docs.where(col("doc_id") < 20).select(
      (col("doc_id") + 100000).as("doc_id"),
      concat(col("text"), lit(" appended near duplicate suffix")).as("text"))
    docs.unionByName(copies)
  }

  test("codegen shingle_hashes agrees with HOF reference implementation") {
    val cnt = docs.limit(50).select(
      size(Dedup.shingleHashes(col("text"), 3)).as("expr_n"),
      size(array_distinct(Dedup.shingles(col("text"), 3))).as("ref_n"))
      .where(col("expr_n") =!= col("ref_n")).count()
    assert(cnt == 0, "codegen shingle count diverges from HOF reference")
  }

  test("exact dedup: planted exact copies collapse, counts add up") {
    val withExact = docs.unionByName(
      docs.where(col("doc_id") < 10).select((col("doc_id") + 500000).as("doc_id"), col("text")))
    val res = Dedup.exact(withExact, "text", "doc_id")
    val total = res.agg(sum("n_copies")).first().getLong(0)
    assert(total == withExact.count())
    assert(res.where(col("n_copies") >= 2).count() >= 10)
    // keep_id is the minimum id of each group — planted ids never win
    assert(res.where(col("keep_id") >= 500000).count() == 0)
  }

  test("portable simhash kernel matches an independent reimplementation") {
    // recompute by hand with JDK md5: token hash = first 16 hex chars
    // of md5(token) as an unsigned 64-bit value, per-bit sign sums
    // over the NON-distinct token stream, bit set iff strictly
    // positive — pins exactly the arithmetic the DuckDB oracle replays
    val text = "The Quick  brown fox\njumps over the lazy dog the the"
    val toks = text.toLowerCase.split("\\s+").filter(_.nonEmpty)
    val md = java.security.MessageDigest.getInstance("MD5")
    val counts = new Array[Int](64)
    for (t <- toks) {
      val hex = md.digest(t.getBytes("UTF-8")).map("%02x".format(_)).mkString
      val h = java.lang.Long.parseUnsignedLong(hex.take(16), 16)
      for (i <- 0 until 64)
        if (((h >>> i) & 1L) == 1L) counts(i) += 1 else counts(i) -= 1
    }
    var expected = 0L
    for (i <- 0 until 64) if (counts(i) > 0) expected |= (1L << i)
    assert(graft.functions.TextHashing.portableSimhash64(text) == expected)
    // zero-token docs carry the all-zeros sentinel
    assert(graft.functions.TextHashing.portableSimhash64("  \n\t ") == 0L)
  }

  test("portable simhash recovers planted near-duplicates; zero-token docs pair with nothing") {
    val withEmpty = planted.unionByName(
      spark.createDataFrame(Seq((700000L, "   "), (700001L, ""), (700002L, "\t\n")))
        .toDF("doc_id", "text"))
    val pairs = Dedup.simhashPairs(withEmpty, "text", "doc_id",
      maxHamming = 8).cache()
    val hits = pairs.where(col("b") === col("a") + 100000).count()
    assert(hits >= 14, s"recovered only $hits of 20 planted simhash pairs")
    assert(pairs.where(col("hamming") > 8).count() == 0)
    // the three zero-token docs share the all-zeros signature; the
    // sentinel filter must keep them out of the pair universe entirely
    assert(pairs.where(col("a") >= 700000 || col("b") >= 700000).count() == 0,
      "zero-token docs must not pair")
    pairs.unpersist()
  }

  test("jaccard verify: planted pairs score high, filter respects threshold") {
    val cand = Dedup.minhashPairs(planted, "text", "doc_id", minEstJaccard = 0.3)
      .select(col("a"), col("b"))
    val verified = Dedup.jaccardVerify(cand, planted, "text", "doc_id",
      n = 3, minJaccard = 0.5).cache()
    assert(verified.where(col("jaccard") < 0.5).count() == 0)
    assert(verified.where(col("b") === col("a") + 100000).count() >= 16)
    verified.unpersist()
  }

  test("transitive clusters: planted copies land in their original's cluster") {
    val pairs = Dedup.minhashPairs(planted, "text", "doc_id", minEstJaccard = 0.5)
      .select(col("a"), col("b"))
    val byId = Dedup.clusters(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // every planted id in the pair graph shares a cluster with its
    // original (the original may itself merge into a smaller cluster)
    val plantedIds = byId.keys.filter(_ >= 100000)
    assert(plantedIds.size >= 16)
    val wrong = plantedIds.count(p =>
      byId(p) != byId.getOrElse(p - 100000, p - 100000))
    assert(wrong == 0, s"$wrong planted ids mis-clustered")
    // cluster label is always the minimum member id
    assert(byId.forall { case (id, c) => c <= id })
  }

  test("clusters handles chains (a-b, b-c merge into one)") {
    import spark.implicits._
    val chain = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)).toDF("a", "b")
    val cl = Dedup.clusters(chain).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(Seq(1L, 2L, 3L, 4L).forall(cl(_) == 1L))
    assert(cl(10L) == 10L && cl(11L) == 10L)
  }

  test("clusters converges on long chains (diameter 9 -> one cluster)") {
    import spark.implicits._
    // 1-2-3-...-10: min label needs 9 hops; the old fixed 3-iteration
    // loop silently split this into several clusters
    val longChain = (1L until 10L).map(i => (i, i + 1)).toDF("a", "b")
    val cl = Dedup.clusters(longChain).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cl.size == 10 && cl.values.forall(_ == 1L),
      s"all chain members must collapse to cluster 1, got $cl")
  }

  test("clusters matches a driver-side union-find on the planted pair graph") {
    val pairs = Dedup.minhashPairs(planted, "text", "doc_id", minEstJaccard = 0.5)
      .select(col("a"), col("b")).cache()
    val truth = unionFind(pairs.collect().map(r => r.getLong(0) -> r.getLong(1)).toSeq)
    val got = Dedup.clusters(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(truth.size >= 32)
    assert(got == truth, "star contraction labels diverge from union-find")
    pairs.unpersist()
  }

  test("clusters matches a driver-side union-find on an adversarial random graph") {
    import spark.implicits._
    // deterministic pseudo-random sparse graph over 400 nodes: many
    // components, chains, and a high-degree hub
    val edges = (0L until 300L).map { i =>
      val a = (i * 2654435761L) % 400L
      val b = (i * 40503L + 7L) % 400L
      (math.min(a, b), math.max(a, b))
    }.filter(e => e._1 != e._2)
    val got = Dedup.clusters(edges.toDF("a", "b")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == unionFind(edges), "star contraction labels diverge on the random graph")
  }

  test("clusters collapses a long chain in far fewer than diameter rounds") {
    import spark.implicits._
    // path 1-2-...-64: diameter 63, so one hop per round would need 63
    // rounds; star contraction halves chain length per alternation and
    // finishes inside its default cap of 30
    val chain = (1L until 64L).map(i => (i, i + 1)).toDF("a", "b")
    val cl = Dedup.clusters(chain).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cl.size == 64 && cl.values.forall(_ == 1L),
      s"chain must collapse to cluster 1, got ${cl.values.toSet}")
  }

  test("keepBest keeps exactly one member of a 200-node path") {
    import spark.implicits._
    // diameter 199: more hops than any per-hop round cap, one component
    val chain = (1L until 200L).map(i => (i, i + 1)).toDF("a", "b")
    val scored = ((1L to 200L) :+ 1000L).map(i => (i, (i % 7).toDouble))
      .toDF("doc_id", "quality")
    val out = Dedup.keepBest(scored, chain, "doc_id", "quality")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(3))).toMap
    val kept = (1L to 200L).filter(i => out(i)._2)
    // highest score 6, ties broken by the lowest id
    assert(kept.size == 1, s"one path member must survive, got ${kept.size}")
    assert(kept.head == 6L)
    assert((1L to 200L).forall(i => out(i)._1 == 1L))
    assert(out(1000L) == ((1000L, true)))
  }

  test("clusters throws at its cap instead of returning split labels") {
    import spark.implicits._
    val chain = (1L until 200L).map(i => (i, i + 1)).toDF("a", "b")
    val e = intercept[IllegalStateException](Dedup.clusters(chain, maxIter = 2))
    assert(e.getMessage.contains("Dedup.clusters") && e.getMessage.contains("maxIter = 2"),
      e.getMessage)
  }

  test("corpusDiff edges: empty sides, identical corpora, null text") {
    import spark.implicits._
    val a = Seq((1L, "x"), (2L, "y")).toDF("id", "text")
    val empty = Seq.empty[(Long, String)].toDF("id", "text")
    def m(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(m(Dedup.corpusDiff(a, empty, "id", "text")) ==
      Map(1L -> "removed", 2L -> "removed"))
    assert(m(Dedup.corpusDiff(empty, a, "id", "text")) ==
      Map(1L -> "added", 2L -> "added"))
    assert(m(Dedup.corpusDiff(a, a, "id", "text")) ==
      Map(1L -> "unchanged", 2L -> "unchanged"))
    // a nulled-out v2 row digests to null → 'removed' (tombstone)
    val tomb = Seq((1L, "x"), (2L, null.asInstanceOf[String])).toDF("id", "text")
    assert(m(Dedup.corpusDiff(a, tomb, "id", "text")) ==
      Map(1L -> "unchanged", 2L -> "removed"))
    // the streaming twin reserves its helper/output names on the
    // arriving side — a silent collision would drop user columns
    val clash = Seq((1L, "x", "s")).toDF("id", "text", "status")
    val e = intercept[IllegalArgumentException](
      Dedup.corpusDiffStream(a, clash, "id", "text"))
    assert(e.getMessage.contains("status"))
    intercept[IllegalArgumentException](Dedup.corpusDiffStream(
      a, Seq((1L, "x", 0L)).toDF("id", "text", "__h1"), "id", "text"))
  }

  test("clusters handles empty and single-pair inputs") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Long)].toDF("a", "b")
    assert(Dedup.clusters(empty).count() == 0)
    val one = Seq((7L, 3L)).toDF("a", "b")
    val cl = Dedup.clusters(one).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cl == Map(3L -> 3L, 7L -> 3L))
  }

  test("no self-pairs and a < b ordering") {
    val pairs = Dedup.minhashPairs(planted, "text", "doc_id", minEstJaccard = 0.3)
    assert(pairs.where(col("a") >= col("b")).count() == 0)
  }

  test("decontamination flags exactly the docs sharing an eval 8-gram") {
    import spark.implicits._
    val evalSet = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa")).toDF("doc_id", "text")
    val corpus = Seq(
      (10L, "clean document with no overlap at all in its words here"),
      (11L, "prefix then alpha beta gamma delta epsilon zeta eta theta trailing"),
      (12L, "alpha beta gamma delta epsilon zeta eta short")) // only 7 shared words
      .toDF("doc_id", "text")
    val hits = Dedup.contaminated(corpus, evalSet, "text", "doc_id", n = 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hits == Map(11L -> 1L))
  }

  test("decontamination broadcasts the eval side, never the corpus") {
    import spark.implicits._
    val evalSet = Seq((1L, "a b c d e f g h i")).toDF("doc_id", "text")
    val corpus = Seq((2L, "a b c d e f g h i j")).toDF("doc_id", "text")
    val plan = Dedup.contaminated(corpus, evalSet, "text", "doc_id")
      .queryExecution.executedPlan.toString()
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
      s"expected a broadcast join:\n$plan")
  }

  test("bloom incremental dedup equals the exact anti-join") {
    val corpus = docs.where(col("doc_id") % 10 =!= 0)
    val batch = docs.where(col("doc_id") % 10 === 0)
      .unionByName(corpus.where(col("doc_id") < 50)
        .select((col("doc_id") + 300000).as("doc_id"), col("text")))
    val got = Dedup.bloomNewDocs(corpus, batch, "text", expectedItems = 10000)
      .select("doc_id").collect().map(_.getLong(0)).sorted
    val want = batch.join(corpus.select("text").distinct(), Seq("text"), "left_anti")
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(got.sameElements(want))
    // every planted cross-split copy was recognized as a duplicate
    assert(!got.exists(_ >= 300000))
  }

  test("bloom dedup stays exact when the filter is saturated (all-positive)") {
    // expectedItems=1 on a 450+ doc corpus → bloom answers 'maybe' for
    // nearly everything; the broadcast verify pass must strip every
    // false positive and the result stays the exact anti-join
    val corpus = docs.where(col("doc_id") % 10 =!= 0)
    val batch = docs.where(col("doc_id") % 10 === 0)
    val got = Dedup.bloomNewDocs(corpus, batch, "text", expectedItems = 1, fpp = 0.5)
      .select("doc_id").collect().map(_.getLong(0)).sorted
    val want = batch.join(corpus.select("text").distinct(), Seq("text"), "left_anti")
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(got.sameElements(want))
  }

  test("bloom dedup with an EMPTY corpus returns the whole batch (first ingest)") {
    val corpus = docs.where(col("doc_id") < 0) // empty
    val batch = docs.where(col("doc_id") % 10 === 0)
    val got = Dedup.bloomNewDocs(corpus, batch, "text", expectedItems = 1000).count()
    assert(got === batch.count(), "an empty corpus must mark every batch row as new")
  }

  test("sharded bloom dedup (4 shards) equals the single-filter result") {
    val corpus = docs.where(col("doc_id") % 10 =!= 0)
    val batch = docs.where(col("doc_id") % 10 === 0)
      .unionByName(corpus.where(col("doc_id") < 50)
        .select((col("doc_id") + 300000).as("doc_id"), col("text")))
    val sharded = Dedup.bloomNewDocs(corpus, batch, "text",
        expectedItems = 10000, nShards = 4)
      .select("doc_id").collect().map(_.getLong(0)).sorted
    val single = Dedup.bloomNewDocs(corpus, batch, "text", expectedItems = 10000)
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(sharded.sameElements(single))
    assert(!sharded.exists(_ >= 300000), "planted cross-split copies must be dropped")
    // empty corpus: the grouped build yields no filters — whole batch is new
    assert(Dedup.bloomNewDocs(docs.where(col("doc_id") < 0), batch, "text",
      expectedItems = 1000, nShards = 4).count() == batch.count())
  }

  test("sharded bloom dedup keeps the apply path shuffle-free on the batch side") {
    val corpus = docs.where(col("doc_id") % 10 =!= 0)
    val batch = docs.where(col("doc_id") % 10 === 0)
    val plan = Dedup.bloomNewDocs(corpus, batch, "text",
      expectedItems = 10000, nShards = 4)
      .queryExecution.executedPlan.toString()
    // same shape as the single-filter plan: broadcast verify joins,
    // shard-routed probes inline, no corpus hash-shuffle
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast joins:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"corpus must not hash-shuffle:\n$plan")
    assert(plan.contains("bloom_shard_might_contain"),
      s"expected shard-routed bloom probes in the plan:\n$plan")
    // the batch repartitions by shard, so a task deserializes exactly
    // its own shard's filter
    assert(plan.contains("hashpartitioning(__shard"),
      s"expected the shard-routing exchange:\n$plan")
    // and the probe must run ABOVE that exchange (plans print
    // top-down): a probe pushed below it would make every upstream
    // task deserialize all shards, defeating the routing
    assert(plan.indexOf("bloom_shard_might_contain") <
      plan.indexOf("hashpartitioning(__shard"),
      s"probe pushed below the shard exchange:\n$plan")
    // the filter blobs ride a broadcast, NOT the plan: 4 shards at
    // 10k items ≈ 48 KB of filter bytes, which as literals would blow
    // the plan string far past this bound
    assert(plan.length < 50000,
      s"plan string suspiciously large (${plan.length}) — filter blobs embedded?")
  }

  test("bloom dedup never shuffles the corpus: verify joins are broadcast") {
    val corpus = docs.where(col("doc_id") % 10 =!= 0)
    val batch = docs.where(col("doc_id") % 10 === 0)
    val plan = Dedup.bloomNewDocs(corpus, batch, "text", expectedItems = 10000)
      .queryExecution.executedPlan.toString()
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast joins:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"corpus must not hash-shuffle:\n$plan")
    assert(plan.contains("might_contain"), s"expected the bloom probe in the plan:\n$plan")
    // one filter needs no shard routing, and it rides a broadcast like
    // the sharded filters: its ~12 KB as a plan literal would blow the
    // plan string past the sharded test's bound
    assert(!plan.contains("hashpartitioning(__shard"), s"one filter needs no routing:\n$plan")
    assert(plan.length < 50000,
      s"plan string suspiciously large (${plan.length}) — filter blob embedded?")
  }

  test("bloom dedup keeps the filter out of the plan text the driver retains") {
    val corpus = docs.where(col("doc_id") % 10 =!= 0)
    val batch = docs.where(col("doc_id") % 10 === 0)
    // Spark's SQL status store keeps each execution's plan description;
    // a filter riding the plan as a literal adds ~8 characters per
    // filter byte (~12 KB here) to every execution that probes it
    val (n, perExecution) = StatusStoreProbe.retainedPlanChars(spark) {
      (1 to 3).foreach(_ =>
        Dedup.bloomNewDocs(corpus, batch, "text", expectedItems = 10000).collect())
    }
    assert(n >= 3, s"expected an execution per run, got $n")
    assert(perExecution < 20000,
      s"$perExecution plan characters retained per execution — filter blob embedded?")
  }

  /** Deterministic synthetic embeddings: `groups` well-separated base
    * vectors (one axis dominant per group), each with `perGroup`
    * members perturbed by a tiny deterministic offset — within-group
    * cosine ≈ 1, cross-group cosine ≈ 0.
    */
  private def syntheticEmbeddings(groups: Int, perGroup: Int, dim: Int = 8) = {
    import spark.implicits._
    val rows = for {
      g <- 0 until groups
      m <- 0 until perGroup
    } yield {
      val v = Array.tabulate(dim)(i =>
        (if (i == g % dim) 10f else 0f) + (i * 7 + m * 3 + g) % 5 * 0.01f)
      (g.toLong * 1000 + m, v.toSeq)
    }
    rows.toDF("vec_id", "embedding")
  }

  test("semantic dedup removes planted near-clones, keeps one representative per group") {
    val emb = syntheticEmbeddings(groups = 6, perGroup = 4)
    val removed = Dedup.semanticDups(emb, "vec_id", "embedding",
      cells = 6, iters = 2, threshold = 0.99)
    val out = removed.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    // every non-minimal member of a group is removed; the kept
    // representative is the group's minimal id (greedy-by-id contract)
    val expectedRemoved = (for {
      g <- 0 until 6; m <- 1 until 4
    } yield g.toLong * 1000 + m).toSet
    assert(out.keySet == expectedRemoved,
      s"removed=${out.keySet.toSeq.sorted} expected=${expectedRemoved.toSeq.sorted}")
    out.foreach { case (id, rep) =>
      assert(rep == (id / 1000) * 1000, s"$id should dedup to its group min, got $rep")
    }
  }

  test("semantic dedup is cluster-local: cross-group vectors are never compared as dups") {
    val emb = syntheticEmbeddings(groups = 4, perGroup = 3)
    val removed = Dedup.semanticDups(emb, "vec_id", "embedding",
      cells = 4, iters = 2, threshold = 0.5)
    // even at a permissive threshold, near-orthogonal cross-group
    // pairs (cos ≈ 0) must not appear
    removed.collect().foreach { r =>
      assert(r.getLong(0) / 1000 == r.getLong(1) / 1000,
        s"cross-group dup reported: ${r.getLong(0)} -> ${r.getLong(1)}")
    }
  }

  test("semantic dedup maxCell cap bounds pair generation on a degenerate cell") {
    import spark.implicits._
    // 100 identical vectors: one cell, all mutual dups — the cap keeps
    // the job O(maxCell²) and degrades recall, never the runtime
    val emb = (0L until 100L).map(i => (i, Seq.fill(8)(1.0f))).toDF("vec_id", "embedding")
    val removed = Dedup.semanticDups(emb, "vec_id", "embedding",
      cells = 2, iters = 1, threshold = 0.99, maxCell = 8)
    // 8 capped members -> 7 removed (the capped-out 92 are untouched)
    assert(removed.count() == 7)
  }

  test("sub-shingle-length docs have no LSH identity: they match nothing, not everything") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // 'ok go' and 'hi' have <3 tokens -> sentinel signatures; without
    // the guard they'd pair with each other (and any other short doc)
    // at est_jaccard 1.0
    val docs = Seq((1L, "ok go"), (2L, "hi"), (3L, "completely unrelated text here"),
      (4L, "completely unrelated text here")).toDF("doc_id", "text")
    val pairs = Dedup.minhashPairs(docs, "text", "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSet == Set((3L, 4L)), s"only the real dup pair: ${pairs.toSeq}")
    // same guard on the cross-corpus path
    val hits = Dedup.minhashContaminated(
      docs.where(col("doc_id") <= 2), docs.where(col("doc_id") >= 3),
      "text", "doc_id").count()
    assert(hits == 0, "short corpus docs must not hit unrelated eval docs")
  }

  test("fuzzy decontamination broadcasts the eval side; the corpus never shuffles for it") {
    import org.apache.spark.sql.functions.col
    val all = Tables(spark, sf, "documents")
    val evalSet = all.where(col("doc_id") < 20)
    val corpus = all.where(col("doc_id") >= 20)
    val plan = Dedup.minhashContaminated(corpus, evalSet, "text", "doc_id")
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"eval buckets+sigs must broadcast:\n$plan")
    // the only hash exchange is the candidate-pair dropDuplicates
    val exchanges = plan.sliding("Exchange hashpartitioning".length)
      .count(_ == "Exchange hashpartitioning")
    assert(exchanges <= 1, s"corpus must not shuffle for candidates:\n$plan")
  }

  test("keepBest keeps the highest-scoring member per cluster, singletons keep themselves") {
    import spark.implicits._
    // clusters: {1,2,3} (chain), {7,8}; 5 is a singleton
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 8L)).toDF("a", "b")
    val scored = Seq(
      (1L, 0.2), (2L, 0.9), (3L, 0.5),  // 2 wins its cluster
      (5L, 0.1),                         // singleton always keeps
      (7L, 0.4), (8L, 0.4)               // tie -> lower id (7) wins
    ).toDF("doc_id", "quality")
    val out = Dedup.keepBest(scored, pairs, "doc_id", "quality")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(3))).toMap
    assert(out(1L) == ((1L, false)) && out(2L) == ((1L, true)) && out(3L) == ((1L, false)))
    assert(out(5L) == ((5L, true)))
    assert(out(7L) == ((7L, true)) && out(8L) == ((7L, false)))
  }

  test("keepBest: the cluster-label join broadcasts, the corpus side never does") {
    val docs = Tables(spark, sf, "documents").limit(300)
    import org.apache.spark.sql.functions.{col, round}
    val scored = docs.select(col("doc_id"),
      round(graft.operators.TextOps.qualityScore(col("text")), 6).as("q"))
    val pairs = Dedup.minhashPairs(docs, "text", "doc_id", minEstJaccard = 0.5)
      .select(col("a"), col("b"))
    val plan = Dedup.keepBest(scored, pairs, "doc_id", "q")
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"cluster labels should broadcast:\n$plan")
  }

  test("semantic dedup shuffles only the cell key — no cartesian, corpus joined once") {
    val emb = syntheticEmbeddings(groups = 6, perGroup = 4)
    val plan = Dedup.semanticDups(emb, "vec_id", "embedding",
      cells = 6, iters = 1, threshold = 0.95)
      .queryExecution.executedPlan.toString()
    assert(!plan.contains("CartesianProduct"),
      s"semantic dedup must join on the cell id, not cross:\n$plan")
  }

  test("portable minhash kernel matches an independent reimplementation") {
    // recompute one signature by hand with JDK md5 + the published
    // seed formula — pins the bit layout (first 15 hex chars = 60
    // bits) and the LCG arithmetic the DuckDB oracle replays
    val text = "The Quick  brown fox\njumps over the lazy dog today"
    val toks = text.toLowerCase.split("\\s+").filter(_.nonEmpty)
    val md = java.security.MessageDigest.getInstance("MD5")
    val p = graft.functions.TextHashing.portableP
    val bases = (0 to toks.length - 3).map { i =>
      val hex = md.digest(toks.slice(i, i + 3).mkString(" ")
        .getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.take(15), 16) % p
    }
    val expected = graft.functions.TextHashing.portableSeeds(32).map {
      case (a, b) => bases.map(h => (a * h + b) % p).min
    }
    val got = graft.functions.TextHashing.portableMinhashSig(text, 3, 32)
    assert(got.toSeq == expected.toSeq)
    // sub-shingle-length docs carry the all-MaxValue sentinel
    assert(graft.functions.TextHashing.portableMinhashSig("one two", 3, 32)
      .forall(_ == Long.MaxValue))
  }

  test("portable minhash LSH recovers planted near-duplicates") {
    val pairs = Dedup.minhashPairs(planted, "text", "doc_id",
      minEstJaccard = 0.5).cache()
    val hits = pairs.where(col("b") === col("a") + 100000).count()
    assert(hits >= 16, s"recovered only $hits of 20 planted near-dup pairs")
    assert(pairs.where(col("b") === col("a") + 100000)
      .agg(min("est_jaccard")).first().getDouble(0) >= 0.5)
    pairs.unpersist()
  }

  private def plantedText(ids: Seq[Long]): Map[Long, String] =
    planted.where(col("doc_id").isin(ids: _*))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap

  test("minhashPairs runs the portable family: est_jaccard = signature agreement / 32") {
    val pairs = Dedup.minhashPairs(planted, "text", "doc_id", minEstJaccard = 0.5)
      .where(col("b") === col("a") + 100000)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(pairs.length >= 2, s"too few planted pairs recovered: ${pairs.toSeq}")
    val text = plantedText(pairs.flatMap(p => Seq(p._1, p._2)))
    def sig(id: Long) = graft.functions.TextHashing.portableMinhashSig(text(id), 3, 32)
    pairs.foreach { case (a, b, est) =>
      val agree = sig(a).zip(sig(b)).count { case (x, y) => x == y }
      assert(est == agree / 32.0, s"pair ($a, $b): est_jaccard $est, agreement $agree/32")
    }
  }

  test("simhashPairs runs the portable family: hamming = bit distance of portable simhashes") {
    val pairs = Dedup.simhashPairs(planted, "text", "doc_id", maxHamming = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(pairs.count(p => p._2 == p._1 + 100000) >= 2,
      s"too few planted pairs recovered: ${pairs.toSeq}")
    val text = plantedText(pairs.flatMap(p => Seq(p._1, p._2)))
    def sim(id: Long) = graft.functions.TextHashing.portableSimhash64(text(id))
    pairs.foreach { case (a, b, hamming) =>
      assert(hamming == java.lang.Long.bitCount(sim(a) ^ sim(b)),
        s"pair ($a, $b): hamming $hamming")
    }
  }

  test("portable fuzzy decontamination flags planted near-copies; short docs match nothing") {
    val all = Tables(spark, sf, "documents")
    val evalSet = all.where(col("doc_id") < 20).select(col("doc_id"), col("text"))
    val corpus = all.where(col("doc_id") >= 20).select(col("doc_id"), col("text"))
      .unionByName(evalSet.where(col("doc_id") < 8).select(
        (col("doc_id") + 400000).as("doc_id"),
        concat(col("text"), lit(" lightly edited tail appended")).as("text")))
      .unionByName(spark.createDataFrame(Seq((900000L, "hi"))).toDF("doc_id", "text"))
    val hits = Dedup.minhashContaminated(corpus, evalSet, "text", "doc_id",
      minEstJaccard = 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    (0L until 8L).foreach { i =>
      assert(hits.exists(h => h._1 == i + 400000 && h._2 == i),
        s"planted near-copy of eval doc $i not flagged")
    }
    assert(hits.forall(_._3 >= 0.5))
    assert(!hits.exists(_._1 == 900000L), "sentinel doc must match nothing")
  }
}
