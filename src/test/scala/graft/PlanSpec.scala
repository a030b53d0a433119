package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Physical-plan regression contracts (SURVEY §4): the properties that
  * make these plans survive a 100 TB scale-up, asserted on explain
  * output so a refactor can't silently regress them.
  */
class PlanSpec extends SparkSuite {

  private def planOf(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  private def formatted(df: DataFrame): String =
    df.queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)

  test("filters and projections push into the parquet scan") {
    val df = Tables(spark, sf, "lineitem")
      .where(col("l_quantity") > 40)
      .select(col("l_orderkey"), col("l_quantity"))
    val s = formatted(df)
    assert(s.contains("PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,40.0)]"), s)
    // column pruning: the scan must read only the two referenced columns
    val readSchema = s.linesIterator.find(_.trim.startsWith("ReadSchema")).getOrElse("")
    assert(readSchema.contains("l_orderkey") && readSchema.contains("l_quantity")
      && !readSchema.contains("l_extendedprice"), readSchema)
  }

  test("q_join_multi: constant dims broadcast; no broadcast hint on SF-scaled tables") {
    val s = planOf("q_join_multi")
    assert(s.contains("BroadcastHashJoin"), "nation/region should broadcast")
    // the lineitem join key is the orderkey hash shuffle (or AQE-converted
    // broadcast at this tiny SF) — either way no cartesian/nested-loop
    assert(!s.contains("CartesianProduct") && !s.contains("BroadcastNestedLoopJoin"), s)
  }

  test("q_win_count: no unpartitioned global-sort window") {
    val s = planOf("q_win_count")
    assert(!s.contains("Window [") || !s.contains("SinglePartition"),
      s"count window must not run a single-partition global window:\n$s")
  }

  test("q_win_count: repeated invocations leave no persistent cache entries") {
    // localCheckpoint blocks are reclaimable by the ContextCleaner once the
    // frame is unreferenced; a persist() here would grow getPersistentRDDs
    // forever in a long-lived engine. Run twice, drop references, GC, and
    // require the persistent-RDD map back at (or below) its starting size.
    val before = spark.sparkContext.getPersistentRDDs.size
    for (_ <- 1 to 2)
      SparkEntry.queries("q_win_count")(spark, sf).write.format("noop").mode("overwrite").save()
    System.gc()
    val deadline = System.nanoTime() + 10e9.toLong
    while (spark.sparkContext.getPersistentRDDs.size > before && System.nanoTime() < deadline) {
      System.gc(); Thread.sleep(200)
    }
    assert(spark.sparkContext.getPersistentRDDs.size <= before,
      s"q_win_count leaked cache entries: ${spark.sparkContext.getPersistentRDDs}")
  }

  test("map-only function queries contain no shuffle") {
    for (name <- Seq("q_fn_math", "q_fn_string", "q_fn_hash", "q_text_quality",
        "q_text_fingerprint", "q_text_langid",
        // corpus-hygiene additions: pii + repetition are pure
        // projections (repetition via kernel arithmetic, no gram
        // explode), sampling is a pushdown-friendly filter
        "q_text_pii", "q_text_repetition", "q_sample_stratified")) {
      val s = planOf(name)
      assert(!s.contains("Exchange"), s"$name should be shuffle-free:\n$s")
    }
  }

  test("decontamination broadcasts the eval grams; corpus side never shuffles before the join") {
    val s = planOf("q_text_decontam")
    assert(s.contains("BroadcastHashJoin"), s"expected broadcast join:\n$s")
    // the only Exchange allowed is the final per-doc aggregation (and
    // AQE wrappers); the gram-explode side must feed the join directly
    val joinIdx = s.indexOf("BroadcastHashJoin")
    val beforeJoin = s.substring(joinIdx)
    assert(!s.substring(0, joinIdx).contains("SortMergeJoin"),
      s"corpus side must not sort-merge:\n$s")
  }

  test("refresh e2e: delta joins broadcast; only the digest diff sort-merges") {
    val s = planOf("q_refresh_e2e")
    // the added/changed delta selects v2's slice and anti-joins v1
    // via broadcast — the corpus text columns never enter a shuffle;
    // the single allowed SortMergeJoin is corpusDiff's full-outer
    // digest join, whose shuffle payload is (id, 32-byte sha-256)
    val smj = s.sliding("SortMergeJoin".length).count(_ == "SortMergeJoin")
    assert(smj <= 1, s"only the digest diff may sort-merge (got $smj):\n$s")
    assert(s.contains("BroadcastHashJoin"), s"delta joins must broadcast:\n$s")
    assert(!s.contains("CartesianProduct") && !s.contains("BroadcastNestedLoopJoin"), s)
  }

  test("sequence packing windows per shard, not one global sort") {
    val s = planOf("q_pack_sequences")
    // a window with an empty partition spec would funnel 100 TB through
    // one task; the shard column must appear as the partition key
    assert(s.contains("Window"), s)
    assert(!s.matches("(?s).*Window \\[[^\\]]*\\], \\[\\].*"),
      s"window must be partitioned by shard:\n$s")
  }

  test("aggregations are two-phase (partial before shuffle)") {
    val s = planOf("q_agg")
    // partial_ aggregate functions appear in the map-side HashAggregate
    assert(s.contains("partial_"), s"q_agg should partial-aggregate map-side:\n$s")
  }

  test("knn brute force broadcasts the probe set, never the corpus") {
    val s = planOf("q_knn_cosine")
    assert(s.contains("BroadcastHashJoin") || s.contains("BroadcastNestedLoopJoin"), s)
    // the corpus side feeds the join via scan, not via broadcast build
    assert(s.contains("embeddings"), s)
  }

  test("quantized knn keeps the brute-force shape: probes broadcast, int8 kernel inline") {
    val s = planOf("q_knn_quant")
    assert(s.contains("BroadcastHashJoin") || s.contains("BroadcastNestedLoopJoin"), s)
    assert(s.contains("embeddings"), s)
    assert(s.contains("int8_cosine") && s.contains("quantize_int8"), s.take(2000))
    assert(!s.contains("SortMergeJoin"), s)
  }

  test("dedup minhash pipeline keeps codegen on the signature stage") {
    val s = formatted(Tables(spark, sf, "documents").select(
      graft.functions.TextHashFunctions.minhash_sig(col("text"), 3, 64).as("sig")))
    // the custom expression must sit inside a whole-stage-codegen span
    // (FormattedMode marks stages with "[codegen id : N]")
    val proj = s.linesIterator.find(l => l.contains("Project") && l.contains("codegen id"))
    assert(proj.isDefined, s"minhash projection not codegen'd:\n$s")
    assert(!s.toLowerCase.contains("batchevalpython") && !s.contains("ScalaUDF"), s)
  }

  test("whole-stage codegen covers the scalar-function hot path") {
    val s = formatted(SparkEntry.queries("q_fn_math")(spark, sf))
    assert(s.contains("codegen id"), s)
  }

  test("vector kernels run as single codegen calls, not interpreted HOF folds") {
    // cosine / LSH bucketing / signature agreement were each a
    // per-element interpreted lambda before r5; pin the kernel forms
    for (name <- Seq("q_dedup_embed", "q_knn_cosine", "q_knn_lsh")) {
      val p = planOf(name)
      assert(!p.contains("aggregate(") && !p.contains("zip_with("),
        s"$name still folds HOF lambdas:\n${p.take(2000)}")
    }
    val embed = planOf("q_dedup_embed")
    assert(embed.contains("cosine_sim"), embed.take(1500))
    val lsh = planOf("q_knn_lsh")
    assert(lsh.contains("lsh_bucket"), lsh.take(1500))
    val mh = planOf("q_dedup_minhash")
    assert(mh.contains("sig_agree") && !mh.contains("zip_with("), mh.take(1500))
  }

  test("codec decode is a codegen projection with no lambda stages") {
    for (name <- Seq("q_codec_delimited", "q_codec_urlencoded")) {
      val df = SparkEntry.queries(name)(spark, sf)
      val p = df.queryExecution.executedPlan.toString
      assert(!p.contains("transform("), s"$name uses an interpreted HOF:\n${p.take(1500)}")
      assert(formatted(df).contains("codegen id"), name)
    }
  }

  test("paragraph dedup: exactly the two semantic-essential shuffles, no joins") {
    val df = SparkEntry.queries("q_text_paradedup")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    val shuffles = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(shuffles == 2, s"expected 2 corpus shuffles (rank + regroup), got $shuffles:\n${p.take(2000)}")
    assert(!p.contains("Join"), s"paragraph dedup must not join:\n${p.take(2000)}")
  }

  test("perplexity: count tables join without a cartesian; corpus regroups once") {
    val df = SparkEntry.queries("q_text_perplexity")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), s"model join must be keyed:\n${p.take(2000)}")
  }

  test("new text queries prune the documents scan to the columns they read") {
    // a scan reading all 5 documents columns for a 2-column op is wrong
    for (q <- Seq("q_text_tfidf", "q_search_bm25", "q_text_chunk", "q_text_gopher")) {
      val s = formatted(SparkEntry.queries(q)(spark, sf))
      val readSchema = s.linesIterator.filter(_.trim.startsWith("ReadSchema"))
        .mkString("\n")
      assert(readSchema.contains("doc_id") && readSchema.contains("text") &&
        !readSchema.contains("lang") && !readSchema.contains("source") &&
        !readSchema.contains("n_chars"),
        s"$q must scan only doc_id+text:\n$readSchema")
    }
    // dsir's scoring pass likewise (its weight build reads lang by design)
    val dsir = formatted(SparkEntry.queries("q_sample_dsir")(spark, sf))
    val rs = dsir.linesIterator.filter(_.trim.startsWith("ReadSchema")).mkString
    assert(!rs.contains("n_chars"), s"dsir must not read n_chars:\n$rs")
  }

  test("substring dedup: the rank shuffle carries the 16-byte key, not window text") {
    val df = SparkEntry.queries("q_text_substrdedup")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("SortMergeJoin"),
      s"removal set must broadcast at this SF:\n${p.take(2000)}")
    assert(!p.contains("CartesianProduct"))
    // window keys come from the codegen kernel on the token array —
    // the old collect_list-over-doc_id-frame build needed a Window
    // (corpus-scale shuffle + sort) that must NOT reappear
    assert(p.contains("window_md5_keys"), p.take(2000))
    assert(!p.linesIterator.exists(l =>
      l.contains("Window ") && l.contains("collect_list")),
      s"the per-doc window-frame build is gone — no collect_list Window:\n${p.take(2000)}")
  }

  test("classifier scoring is a map-only codegen projection") {
    val w = new Array[Double]((1 << 12) + 1)
    val df = Tables(spark, sf, "documents")
      .select(col("doc_id"),
        graft.operators.Classifier.score(col("text"), w, 1 << 12).as("s"))
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), s"scoring must not shuffle:\n${p.take(1500)}")
    assert(p.contains("logistic_score"), p.take(1500))
    val rs = formatted(df).linesIterator.filter(_.trim.startsWith("ReadSchema")).mkString
    assert(!rs.contains("lang"), s"scan must prune to doc_id+text:\n$rs")
  }

  test("pca projection kernel is inline; the identity query joins the spectrum via broadcast") {
    val p = planOf("q_embed_pca")
    assert(p.contains("pca_project"), p.take(1500))
    assert(!p.contains("SortMergeJoin"), s"spectrum table must broadcast:\n${p.take(1500)}")
    assert(p.contains("HashAggregate"), p.take(1500)) // two-phase var_pop
  }

  test("hard-negative mining never shuffles the corpus (broadcast-only joins)") {
    val p = planOf("q_knn_hardneg")
    assert(!p.contains("SortMergeJoin"), p.take(2000))
    assert(!p.contains("CartesianProduct"), p.take(2000))
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"), p.take(2000))
  }

  test("hll distinct aggregates two-phase: partial sketches before the shuffle") {
    val df = SparkEntry.queries("q_distinct_hll")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    // ObjectHashAggregate partial (hll_sketch_agg) on the map side, then
    // one key exchange, then the merge — the mergeable-sketch contract
    assert(p.contains("hll_sketch_agg"), p.take(1500))
    val aggs = p.linesIterator.count(_.contains("HashAggregate"))
    assert(aggs >= 2, s"expected partial+final aggregate pair:\n${p.take(1500)}")
  }

  test("funnel: every stage scan pushes its event-type filter into parquet") {
    val df = SparkEntry.queries("q_funnel")(spark, sf)
    val s = formatted(df)
    // three stage scans + the same filters pushed — no full-table pass
    Seq("view", "click", "purchase").foreach { st =>
      assert(s.contains(s"EqualTo(event_type,$st)"),
        s"stage filter for '$st' not pushed:\n${s.take(2000)}")
    }
    // the only nested-loop is the final 3-row × 1-row conv-rate attach
    // (crossJoin of two aggregates) — never on event-scale inputs
    assert(!s.contains("CartesianProduct"), s.take(1500))
  }

  test("token-budget sampling: one corpus shuffle; the budget table broadcasts") {
    val p = planOf("q_sample_token_budget")
    assert(!p.contains("SortMergeJoin"), p.take(1500))
    assert(p.contains("BroadcastHashJoin"), p.take(1500))
    // the window partitions by source — no single-partition sort
    assert(!p.contains("Exchange SinglePartition"), p.take(1500))
  }

  test("zorder audit: stats broadcast back; only the tiny bucket table shuffles") {
    val p = planOf("q_layout_zorder")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      p.take(1500))
    // exactly one hash exchange (the <=2^bucketBits bucket agg)
    val hashEx = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(hashEx == 1, s"expected one bucket-agg exchange, got $hashEx:\n${p.take(1500)}")
  }

  test("cms build: the only shuffle payload is the sketch, never the corpus") {
    val df = SparkEntry.queries("q_sketch_cms")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    // both the (r, b) sketch agg and the exact-count agg are two-phase:
    // partial map-side fold, then an exchange carrying aggregate rows
    assert(!p.contains("SortMergeJoin"), p.take(1500))
    val partials = p.linesIterator.count(l =>
      l.contains("HashAggregate") && l.contains("partial_count"))
    assert(partials >= 2, s"expected partial aggregates before exchanges:\n${p.take(2000)}")
  }

  test("skew audit: two-phase key count + TakeOrdered; corpus scanned once") {
    val df = SparkEntry.queries("q_skew_audit")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    // the corpus scan happened ONCE, inside the eager count-table
    // checkpoint — the final plan reads the checkpoint, never the file
    assert(p.linesIterator.count(_.contains("FileScan")) == 0,
      s"audit's final plan must read the checkpointed counts:\n${p.take(2000)}")
    assert(p.contains("TakeOrderedAndProject"), p.take(1500))
    // the 1-row total attaches via a broadcast nested-loop (fine);
    // never a sort-merge or a real cartesian on the key table
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      p.take(1500))
    // the count table the checkpoint materializes folds two-phase
    // before its one exchange (asserted on the stage built directly)
    val cp = Tables(spark, sf, "events").groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_rows"))
      .queryExecution.executedPlan.toString
    assert(cp.linesIterator.exists(l =>
      l.contains("HashAggregate") && l.contains("partial_count")), cp.take(1500))
  }

  test("salted join: the salt column is a join key and the hot dim side explodes") {
    val df = SparkEntry.queries("q_skew_join")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    // (key, salt) is the equi-join key — the whole point of the fan-out
    assert(p.contains("_sj_salt"), p.take(1500))
    assert(p.contains("Generate explode"), p.take(1500))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(1500))
  }

  test("corpus drift: only token-keyed exchanges — the corpus text never shuffles") {
    val df = SparkEntry.queries("q_corpus_drift")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    // each corpus side was scanned ONCE, inside the eager merged-vocab
    // checkpoint — the final plan reads the checkpoint, not the files
    assert(p.linesIterator.count(_.contains("FileScan")) == 0,
      s"drift's final plan must read the checkpointed vocab:\n${p.take(2000)}")
    // the totals broadcast back onto the merged table
    assert(p.linesIterator.count(_.contains("BroadcastExchange")) >= 1, p.take(1500))
    // the vocab stage the checkpoint materializes: map-side fold, and
    // its only exchange partitions on the token, never the text
    val voc = Tables(spark, sf, "documents")
      .select(explode(graft.operators.TextOps.tokens(col("text"))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("n"))
      .queryExecution.executedPlan.toString
    val hashEx = voc.linesIterator.filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(hashEx.nonEmpty && hashEx.forall(_.contains("token")),
      s"vocab exchange must partition on token:\n${hashEx.mkString("\n")}")
    assert(voc.linesIterator.exists(l =>
      l.contains("HashAggregate") && l.contains("partial_count")), voc.take(1500))
  }
}
