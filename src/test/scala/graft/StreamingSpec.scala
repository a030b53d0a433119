package graft

import graft.streaming._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.StatusStoreProbe
import org.apache.spark.sql.streaming.OutputMode

/** Streaming window semantics (SURVEY §2.2): every streaming operator
  * must produce exactly the batch answer on the same data — that's the
  * incremental-computation contract, verified through MemoryStream +
  * processAllAvailable.
  */
class StreamingSpec extends SparkSuite {

  private def classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
  private implicit def sqlCtx: org.apache.spark.sql.classic.SQLContext = classic.sqlContext
  private implicit def sparkImplicit: org.apache.spark.sql.SparkSession = spark

  import spark.implicits._

  private val evts: Seq[StateEvt] = {
    // key 1: open(110) acc(50) close(5) | open(120) unclosed tail
    // key 2: below-open noise, then open(150) close(1) single-pair
    Seq(
      StateEvt(1L, 1000000L, 110.0, open = true, close = false),
      StateEvt(1L, 2000000L, 50.0, open = false, close = false),
      StateEvt(1L, 3000000L, 5.0, open = false, close = true),
      StateEvt(1L, 4000000L, 120.0, open = true, close = false),
      StateEvt(2L, 1500000L, 30.0, open = false, close = false),
      StateEvt(2L, 2500000L, 150.0, open = true, close = false),
      StateEvt(2L, 3500000L, 1.0, open = false, close = true))
  }

  test("condition window streaming == batch semantics, across micro-batches") {
    val ms = MemoryStream[StateEvt]
    val out = ConditionWindow.streaming(ms.toDS())
    val q = out.writeStream.format("memory").queryName("cond_out")
      .outputMode(OutputMode.Append).start()
    try {
      ms.addData(evts.take(3)) // first window of key 1 completes in batch 1
      q.processAllAvailable()
      ms.addData(evts.drop(3)) // key 2's window spans state across batches
      q.processAllAvailable()
      val rows = spark.table("cond_out").orderBy("key").collect()
      assert(rows.length == 2)
      val r1 = rows(0)
      assert(r1.getLong(0) == 1L && r1.getLong(1) == 1000000L &&
        r1.getLong(2) == 3000000L && r1.getLong(3) == 3 && r1.getDouble(4) == 165.0)
      val r2 = rows(1)
      assert(r2.getLong(0) == 2L && r2.getLong(1) == 2500000L &&
        r2.getLong(3) == 2 && r2.getDouble(4) == 151.0)
    } finally q.stop()
  }

  test("bloom incremental dedup streaming == batch across micro-batches") {
    import graft.operators.Dedup
    import org.apache.spark.sql.functions.col
    val all = graft.Tables(spark, sf, "documents").select(col("doc_id"), col("text"))
    val corpus = all.where(col("doc_id") % 10 =!= 0)
    val batchDf = all.where(col("doc_id") % 10 === 0)
      .unionByName(corpus.where(col("doc_id") < 30)
        .select((col("doc_id") + 300000).as("doc_id"), col("text")))
    val rows = batchDf.collect().map(r => (r.getLong(0), r.getString(1)))
    val ms = MemoryStream[(Long, String)]
    val streamIn = ms.toDS().toDF("doc_id", "text")
    val out = Dedup.bloomNewDocsStream(corpus, streamIn, "text", expectedItems = 10000)
    val q = out.writeStream.format("memory").queryName("bloom_out")
      .outputMode(OutputMode.Append).start()
    try {
      val (first, rest) = rows.splitAt(rows.length / 3)
      ms.addData(first.toSeq); q.processAllAvailable()
      val afterOne = spark.table("bloom_out").count()
      // the filter rides a broadcast, not each micro-batch's plan: the
      // plan text the driver retains per batch stays small
      val (batches, perExecution) = StatusStoreProbe.retainedPlanChars(spark) {
        rest.grouped(rest.length / 2 + 1).foreach { part =>
          ms.addData(part.toSeq); q.processAllAvailable()
        }
      }
      assert(batches >= 2 && perExecution < 20000,
        s"$perExecution plan characters retained per execution over $batches — filter embedded?")
      val got = spark.table("bloom_out").select("doc_id")
        .collect().map(_.getLong(0)).sorted
      val want = Dedup.bloomNewDocs(corpus, batchDf, "text", expectedItems = 10000)
        .select("doc_id").collect().map(_.getLong(0)).sorted
      assert(got.sameElements(want), s"streaming ${got.length} != batch ${want.length}")
      assert(afterOne > 0 && afterOne < got.length) // genuinely incremental
      assert(!got.exists(_ >= 300000)) // planted cross-split copies dropped
    } finally q.stop()
  }

  /** The q_corpus_diff planted v2 snapshot (deletions at id%7, edits
    * at id%5, re-added copies of id<15 at +900000) — ONE builder for
    * both corpus-diff streaming tests so the stream==batch pins can't
    * drift onto differently-planted corpora. (The PipelineQueries
    * copies stay inline by design: each query body must mirror its
    * oracle SQL self-containedly.)
    */
  private def plantedV2(v1: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    v1.where(col("doc_id") % 7 =!= 0)
      .select(col("doc_id"),
        when(col("doc_id") % 5 === 0, concat(col("text"), lit(" [edited]")))
          .otherwise(col("text")).as("text"))
      .unionByName(v1.where(col("doc_id") < 15)
        .select((col("doc_id") + 900000).as("doc_id"), col("text")))

  test("streaming corpus diff == batch corpusDiff on the arriving slice, across batches") {
    import graft.operators.Dedup
    import org.apache.spark.sql.functions.col
    val v1 = graft.Tables(spark, sf, "documents").select(col("doc_id"), col("text"))
    // one null-text TOMBSTONE for an id the planted v2 dropped: both
    // engines must call it 'removed' (batch: h2 null; stream: __h2
    // null before the =!= compare, which would otherwise null out)
    val v2 = plantedV2(v1).unionByName(
      Seq((7L, null.asInstanceOf[String])).toDF("doc_id", "text"))
    val rows = v2.collect().map(r => (r.getLong(0), r.getString(1)))
    val ms = MemoryStream[(Long, String)]
    val out = Dedup.corpusDiffStream(v1, ms.toDS().toDF("doc_id", "text"),
      "doc_id", "text")
    val q = out.writeStream.format("memory").queryName("diff_out")
      .outputMode(OutputMode.Append).start()
    try {
      val (first, second) = rows.splitAt(rows.length / 2)
      ms.addData(first.toSeq); q.processAllAvailable()
      val afterOne = spark.table("diff_out").count()
      ms.addData(second.toSeq); q.processAllAvailable()
      val got = spark.table("diff_out").select(col("doc_id"), col("status"))
        .collect().map(r => (r.getLong(0), r.getString(1))).sorted
      // batch corpusDiff restricted to ids the stream can observe
      // (absence-derived 'removed' is a closed-snapshot verdict; the
      // arriving tombstone's 'removed' must match)
      val arriving = v2.select(col("doc_id").as("id")).distinct()
      val want = Dedup.corpusDiff(v1, v2, "doc_id", "text")
        .join(arriving, Seq("id"))
        .collect().map(r => (r.getLong(0), r.getString(1))).sorted
      assert(got.sameElements(want), s"streaming ${got.length} != batch ${want.length}")
      assert(afterOne > 0 && afterOne < got.length) // genuinely incremental
      assert(got.count(_._2 == "added") == 15)
      assert(got.contains((7L, "removed")), "tombstone must classify 'removed'")
      assert(got.exists(_._2 == "changed") && got.exists(_._2 == "unchanged"))
    } finally q.stop()
  }

  test("streaming refresh serving: diff-classify then bloom-dedup composes == batch loop") {
    import graft.operators.Dedup
    import org.apache.spark.sql.functions.col
    val v1 = graft.Tables(spark, sf, "documents").select(col("doc_id"), col("text"))
    // arriving v2: edits (new content, must pass) and re-added copies
    // of v1 content under fresh ids (must be bloom-dropped as dups)
    val v2 = plantedV2(v1)
    val rows = v2.collect().map(r => (r.getLong(0), r.getString(1)))
    val ms = MemoryStream[(Long, String)]
    // the serving pipeline: classify against v1, keep the delta,
    // strip content v1 already has — no re-join anywhere
    val classified = Dedup.corpusDiffStream(v1, ms.toDS().toDF("doc_id", "text"),
      "doc_id", "text")
    val delta = classified.where(col("status").isin("added", "changed")).drop("status")
    val out = Dedup.bloomNewDocsStream(v1, delta, "text", expectedItems = 10000)
    val q = out.writeStream.format("memory").queryName("refresh_out")
      .outputMode(OutputMode.Append).start()
    try {
      val (first, second) = rows.splitAt(rows.length / 2)
      ms.addData(first.toSeq); q.processAllAvailable()
      ms.addData(second.toSeq); q.processAllAvailable()
      val got = spark.table("refresh_out").select("doc_id")
        .collect().map(_.getLong(0)).sorted
      // batch loop: diff delta -> v2 slice -> bloomNewDocs
      val deltaIds = Dedup.corpusDiff(v1, v2, "doc_id", "text")
        .where(col("status").isin("added", "changed")).select(col("id"))
      val batchDelta = v2.join(deltaIds, v2("doc_id") === deltaIds("id"))
        .select(v2("doc_id"), v2("text"))
      val want = Dedup.bloomNewDocs(v1, batchDelta, "text", expectedItems = 10000)
        .select("doc_id").collect().map(_.getLong(0)).sorted
      assert(got.sameElements(want), s"streaming ${got.length} != batch ${want.length}")
      assert(got.nonEmpty && !got.exists(_ >= 900000),
        "re-added v1 copies must be bloom-dropped; edited docs must pass")
    } finally q.stop()
  }

  test("streaming quality-calibration monitor converges to the batch table") {
    // live calibration drift of a quality filter on an incoming
    // stream: the SAME TextOps.calibration operator applied to a
    // streaming frame (its bucket agg is algebraic, so update-mode
    // per-bin rows converge to the batch table once all data arrived)
    import graft.operators.TextOps
    import org.apache.spark.sql.functions.col
    val docsDf = graft.Tables(spark, sf, "documents")
      .select(col("doc_id"), col("text"))
    val rows = docsDf.collect().map(r => (r.getLong(0), r.getString(1)))
    def scoredOf(df: org.apache.spark.sql.DataFrame) = df.select(
      TextOps.qualityScore(col("text")).as("score"),
      (TextOps.stopwordRatio(col("text")) > 0.08).as("y"))
    val ms = MemoryStream[(Long, String)]
    val out = TextOps.calibration(scoredOf(ms.toDS().toDF("doc_id", "text")),
      "score", "y", bins = 10)
    val q = out.writeStream.format("memory").queryName("calib_out")
      .outputMode(OutputMode.Update).start()
    try {
      val (first, second) = rows.splitAt(rows.length / 2)
      ms.addData(first.toSeq); q.processAllAvailable()
      ms.addData(second.toSeq); q.processAllAvailable()
      // update mode re-emits refined rows per bin — the LAST emission
      // per bin is the live table; it must equal the batch operator
      import spark.implicits._
      val got = spark.table("calib_out")
        .withColumn("emit", org.apache.spark.sql.functions
          .monotonically_increasing_id())
        .orderBy(col("emit"))
        .collect().map(r => r.getDouble(0) ->
          (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))
        .toMap // later emissions overwrite earlier per bin_lo
      val want = TextOps.calibration(scoredOf(docsDf), "score", "y", bins = 10)
        .collect().map(r => r.getDouble(0) ->
          (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))
        .toMap
      assert(got == want, s"live table $got != batch $want")
    } finally q.stop()
  }

  test("streaming paragraph strip == batch op across micro-batches; saturated docs vanish") {
    import graft.operators.TextOps
    val all = graft.Tables(spark, sf, "documents").select(col("doc_id"), col("text"))
    val corpus = all.where(col("doc_id") % 10 =!= 0)
    // stream: held-out docs + full clones of corpus docs (every span
    // seen -> the clone must vanish from the output)
    val streamDf = all.where(col("doc_id") % 10 === 0)
      .unionByName(corpus.where(col("doc_id") < 30)
        .select((col("doc_id") + 300000).as("doc_id"), col("text")))
    val rows = streamDf.collect().map(r => (r.getLong(0), r.getString(1)))
    val ms = MemoryStream[(Long, String)]
    val out = TextOps.stripSeenParagraphsStream(corpus,
      ms.toDS().toDF("doc_id", "text"), "doc_id", "text", " table ")
    val q = out.writeStream.format("memory").queryName("para_strip_out")
      .outputMode(OutputMode.Update).start()
    try {
      val (first, second) = rows.splitAt(rows.length / 2)
      ms.addData(first.toSeq); q.processAllAvailable()
      ms.addData(second.toSeq); q.processAllAvailable()
      val got = spark.table("para_strip_out")
        .select("doc_id", "text_dedup", "kept_paras")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sortBy(_._1)
      val want = TextOps.stripSeenParagraphsStream(corpus, streamDf,
          "doc_id", "text", " table ")
        .select("doc_id", "text_dedup", "kept_paras")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sortBy(_._1)
      assert(got.sameElements(want), s"streaming ${got.length} != batch ${want.length}")
      assert(!got.exists(_._1 >= 300000), "wholly corpus-seen clones must vanish")
      assert(got.nonEmpty && got.forall(_._3 > 0))
    } finally q.stop()
  }

  test("streaming window strip == batch op across micro-batches; cloned docs vanish") {
    import graft.operators.TextOps
    val all = graft.Tables(spark, sf, "documents").select(col("doc_id"), col("text"))
    val corpus = all.where(col("doc_id") % 10 =!= 0)
    // stream: held-out docs + full clones of corpus docs (every window
    // corpus-seen -> the clone rebuilds to empty)
    val streamDf = all.where(col("doc_id") % 10 === 0)
      .unionByName(corpus.where(col("doc_id") < 30)
        .select((col("doc_id") + 500000).as("doc_id"), col("text")))
    val rows = streamDf.collect().map(r => (r.getLong(0), r.getString(1)))
    val ms = MemoryStream[(Long, String)]
    val out = TextOps.stripSeenWindowsStream(corpus,
      ms.toDS().toDF("doc_id", "text"), "doc_id", "text", windowTokens = 8)
    val q = out.writeStream.format("memory").queryName("win_strip_out")
      .outputMode(OutputMode.Update).start()
    try {
      val (first, second) = rows.splitAt(rows.length / 2)
      ms.addData(first.toSeq); q.processAllAvailable()
      ms.addData(second.toSeq); q.processAllAvailable()
      val got = spark.table("win_strip_out").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).sortBy(_._1)
      val want = TextOps.stripSeenWindowsStream(corpus, streamDf,
          "doc_id", "text", windowTokens = 8).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).sortBy(_._1)
      assert(got.sameElements(want), s"streaming ${got.length} != batch ${want.length}")
      // full clones: every window seen -> all tokens covered -> empty
      val clones = got.filter(_._1 >= 500000)
      assert(clones.nonEmpty && clones.forall(c => c._2 == "" && c._3 == 0))
      // held-out docs keep at least their tail (windows are doc-local)
      assert(got.filter(_._1 < 500000).exists(_._3 > 0))
    } finally q.stop()
  }

  test("streaming vector search: IVF top-k over a query stream equals the batch probe") {
    import graft.operators.Knn
    val emb = graft.Tables(spark, sf, "embeddings")
    val cents = Knn.trainIvfCentroids(emb, "vec_id", "embedding", cells = 8)
    val queries = emb.where(col("vec_id") < 12)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val ms = MemoryStream[(Long, Array[Float])]
    val out = Knn.ivfTopKStream(cents,
      ms.toDS().toDF("vec_id", "embedding"), emb, "vec_id", "embedding",
      k = 5, probes = 3)
    val q = out.writeStream.format("memory").queryName("vsearch_out")
      .outputMode(OutputMode.Update).start()
    try {
      val (first, second) = queries.splitAt(6)
      ms.addData(first.toSeq); q.processAllAvailable()
      ms.addData(second.toSeq); q.processAllAvailable()
      def fmt(df: org.apache.spark.sql.DataFrame) = df.collect().map { r =>
        r.getLong(0) -> r.getSeq[org.apache.spark.sql.Row](1)
          .map(s => (s.getLong(0), s.getDouble(1)))
      }.toMap
      val got = fmt(spark.table("vsearch_out"))
      val want = fmt(Knn.ivfTopKStream(cents,
        emb.where(col("vec_id") < 12), emb, "vec_id", "embedding", k = 5, probes = 3))
      assert(got == want, s"stream ${got.size} queries != batch ${want.size}")
      assert(got.values.forall(_.length == 5))
      // and the per-rank results line up with the batch ivfTopKWith path
      val ranked = Knn.ivfTopKWith(cents, emb.where(col("vec_id") < 12), emb,
        "vec_id", "embedding", k = 5, probes = 3)
        .collect().groupBy(_.getLong(0))
        .map { case (id, rs) =>
          id -> rs.sortBy(_.getInt(3)).map(r => (r.getLong(1), r.getDouble(2))).toSeq }
      assert(got.map { case (id, t) => id -> t.toSeq } == ranked)
    } finally q.stop()
  }

  test("streaming hybrid retrieval equals batch hybridRrf per rank across micro-batches") {
    import graft.operators.Search
    val docsDf = graft.Tables(spark, sf, "documents").select(col("doc_id"), col("text"))
    val emb = graft.Tables(spark, sf, "embeddings")
    val joined = docsDf.join(
      emb.select(col("vec_id").as("doc_id"), col("embedding")), Seq("doc_id"))
    val rows = joined.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getSeq[Float](2).toArray))
    val terms = Seq("join", "window", "hash")
    val qvec = emb.where(col("vec_id") === 0)
      .select(col("embedding")).head().getSeq[Float](0)
    val ms = MemoryStream[(Long, String, Array[Float])]
    val out = Search.hybridRrfStream(
      ms.toDS().toDF("doc_id", "text", "embedding"),
      docsDf, "doc_id", "text", "embedding", terms, qvec)
    val q = out.writeStream.format("memory").queryName("hybrid_out")
      .outputMode(OutputMode.Update).start()
    try {
      val (a, b) = rows.splitAt(rows.length / 2)
      ms.addData(a.toSeq); q.processAllAvailable()
      ms.addData(b.toSeq); q.processAllAvailable()
      val t = spark.table("hybrid_out")
      val maxGen = t.agg(max("gen")).head().getLong(0)
      assert(maxGen == 2L, "one emission generation per micro-batch")
      def fmt(df: org.apache.spark.sql.DataFrame) = df
        .select(col("doc_id"), col("lex_rank"), col("dense_rank"), col("rrf"))
        .collect()
        .map(r => (r.getLong(0), Option(r.get(1)), Option(r.get(2)), r.getDouble(3)))
        .sortBy(x => (-x._4, x._1))
      val got = fmt(t.where(col("gen") === maxGen))
      val want = fmt(Search.hybridRrf(docsDf, "doc_id", "text", terms,
        emb, "vec_id", "embedding", qvec))
      assert(got.toSeq == want.toSeq,
        s"final stream emission must equal batch hybridRrf:\n${got.toSeq}\nvs\n${want.toSeq}")
      // the mid-stream emission ranks only what had arrived: every id
      // is from the first half, and the live result (gen 2) differs
      // (reference stats stay fixed; the pool grew)
      val half = fmt(t.where(col("gen") === 1L))
      val halfIds = a.map(_._1).toSet
      assert(half.nonEmpty && half.forall(r => halfIds.contains(r._1)),
        "generation 1 must rank only first-half arrivals")
    } finally q.stop()
  }

  test("streaming quality gate (gopher + pii + bpe count) equals the batch projection") {
    import graft.operators.{Bpe, TextOps}
    val all = graft.Tables(spark, sf, "documents").select(col("doc_id"), col("text"))
    val rows = all.collect().map(r => (r.getLong(0), r.getString(1)))
    val merges = Seq(("t", "a"), ("l", "e"))
    def gate(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
      df.select(col("doc_id"),
        TextOps.gopherKeep(col("text")).as("keep"),
        TextOps.stopwordHits(col("text")).as("hits"),
        TextOps.piiRedact(col("text")).as("red"),
        size(graft.functions.BpeFunctions.bpe_encode(col("text"), merges))
          .as("n_sub"))
    val ms = MemoryStream[(Long, String)]
    val q = gate(ms.toDS().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("gate_out")
      .outputMode(OutputMode.Append).start()
    try {
      val (first, second) = rows.splitAt(rows.length / 2)
      ms.addData(first.toSeq); q.processAllAvailable()
      ms.addData(second.toSeq); q.processAllAvailable()
      val got = spark.table("gate_out").collect()
        .map(r => (r.getLong(0), r.getBoolean(1), r.getLong(2), r.getString(3), r.getInt(4)))
        .sortBy(_._1)
      val want = gate(all).collect()
        .map(r => (r.getLong(0), r.getBoolean(1), r.getLong(2), r.getString(3), r.getInt(4)))
        .sortBy(_._1)
      assert(got.sameElements(want),
        s"map-only hygiene stages must be batch/stream identical (${got.length}/${want.length})")
    } finally q.stop()
  }

  test("streaming hll sketch: incremental per-group estimates converge to the batch result") {
    // TypedImperativeAggregate under update-mode streaming: partial
    // sketches merge across micro-batches exactly like across
    // partitions (the estimate reads the merged sketch's coupons or
    // registers, not the merge order), so the final streamed
    // estimate equals the batch aggregate bit-for-bit
    val ev = graft.Tables(spark, sf, "events")
      .select(col("event_type"), col("user_id"))
    val rows = ev.collect().map(r => (r.getString(0), r.getLong(1)))
    val ms = MemoryStream[(String, Long)]
    val q = ms.toDS().toDF("event_type", "user_id")
      .groupBy(col("event_type"))
      .agg(graft.functions.GraftFunctions.hllDistinct(col("user_id")).as("est"))
      .writeStream.format("memory").queryName("hll_out")
      .outputMode(OutputMode.Update).start()
    try {
      val (a, b) = rows.splitAt(rows.length / 2)
      ms.addData(a.toSeq); q.processAllAvailable()
      ms.addData(b.toSeq); q.processAllAvailable()
      // update mode re-emits groups; last emission per group wins
      val got = spark.table("hll_out").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val want = ev.groupBy(col("event_type"))
        .agg(graft.functions.GraftFunctions.hllDistinct(col("user_id")).as("est"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(got === want)
    } finally q.stop()
  }

  test("online classifier training: foreachBatch warm-starts per micro-batch and converges") {
    import graft.operators.Classifier
    val dim = 1 << 12
    def planted(lo: Int, hi: Int) = (lo until hi).map { i =>
      val common = s"the quick brown fox jumps over lazy dog number ${i % 7}"
      if (i % 2 == 0) (s"$common zorp quux flibber", 1) else (s"$common plain ordinary text", 0)
    }
    @volatile var w = new Array[Double](dim + 1)
    val ms = MemoryStream[(String, Int)]
    val q = ms.toDS().toDF("text", "y")
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        if (!batch.isEmpty)
          w = Classifier.train(batch, "text", "y", dim = dim, iters = 8,
            lr = 2.0, init = Some(w))
      }
      .start()
    try {
      // three arriving labeled micro-batches; weights carry forward
      ms.addData(planted(0, 100)); q.processAllAvailable()
      ms.addData(planted(100, 200)); q.processAllAvailable()
      ms.addData(planted(200, 300)); q.processAllAvailable()
      import spark.implicits._
      val held = planted(1000, 1200).toDF("text", "y")
      val acc = Classifier.accuracy(held, "text", "y", w, dim)
      assert(acc >= 0.95, s"online-trained accuracy $acc")
    } finally q.stop()
  }

  test("streaming kn-perplexity gate: static-corpus model scores a stream identically") {
    import graft.operators.TextOps
    val docs = graft.Tables(spark, sf, "documents")
    val score = TextOps.knScorer(docs, "text")
    def gate(df: org.apache.spark.sql.DataFrame) =
      df.select(col("doc_id"), round(score(col("text")), 6).as("bits"))
    val rows = docs.select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val ms = MemoryStream[(Long, String)]
    val q = gate(ms.toDS().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("kn_out")
      .outputMode(OutputMode.Append).start()
    try {
      ms.addData(rows.toSeq); q.processAllAvailable()
      val got = spark.table("kn_out").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1)
      val want = gate(docs).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1)
      assert(got.sameElements(want))
    } finally q.stop()
  }

  test("streaming classifier gate: batch-trained weights score a stream identically") {
    import graft.operators.Classifier
    // train once on the batch corpus (the offline half), then the
    // codegen scorer — a plain map-only Column — runs unchanged on a
    // stream of arriving documents (the online half)
    val docs = graft.Tables(spark, sf, "documents")
    val corrupt = translate(col("text"), "aeiou", "xqzvk")
    val tr = docs.select(col("text"), lit(1).as("y"))
      .unionAll(docs.select(corrupt.as("text"), lit(0).as("y")))
    val w = Classifier.train(tr, "text", "y", dim = 1 << 12, iters = 30, lr = 16.0)
    def score(df: org.apache.spark.sql.DataFrame) =
      df.select(col("doc_id"), round(Classifier.score(col("text"), w, 1 << 12), 6).as("s"))
    val rows = docs.select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val ms = MemoryStream[(Long, String)]
    val q = score(ms.toDS().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("clf_out")
      .outputMode(OutputMode.Append).start()
    try {
      ms.addData(rows.toSeq); q.processAllAvailable()
      val got = spark.table("clf_out").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1)
      val want = score(docs).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1)
      assert(got.sameElements(want))
    } finally q.stop()
  }

  test("condition window: batch operator matches hand-computed windows") {
    val df = evts.toDF()
      .select(col("key").as("user_id"), timestamp_micros(col("tsMicros")).as("ts"),
        col("key").as("event_id"), col("value"))
    val res = ConditionWindow.batch(df, "user_id", "ts", "event_id", "value",
      col("value") > 100, col("value") < 10)
    val rows = res.orderBy("user_id").collect()
    assert(rows.length == 2)
    assert(rows.map(_.getLong(4)).toSeq == Seq(3L, 2L)) // n per window
  }

  test("condition window: streaming equals batch on 1000 real events across 3 batches") {
    val evsDf = Tables(spark, sf, "events")
      .select(col("user_id"), unix_micros(col("ts")).as("tsMicros"), col("value"))
      .orderBy("tsMicros")
    val evs = evsDf.collect().map(r =>
      StateEvt(r.getLong(0), r.getLong(1), r.getDouble(2),
        open = r.getDouble(2) > 100, close = r.getDouble(2) < 10)).toSeq

    val ms = MemoryStream[StateEvt]
    val q = ConditionWindow.streaming(ms.toDS()).writeStream.format("memory")
      .queryName("cond_big").outputMode(OutputMode.Append).start()
    try {
      evs.grouped((evs.size + 2) / 3).foreach { chunk =>
        ms.addData(chunk); q.processAllAvailable()
      }
      val got = spark.table("cond_big")
        .select(col("key"), col("startTs"), col("endTs"), col("n"), col("sum"))
        .collect().map(_.toString).sorted
      // batch analog on the same data (same predicates); ties broken by
      // tsMicros only — events at sf0.001 have unique (user, ts) pairs
      val batchRes = ConditionWindow.batch(
        Tables(spark, sf, "events"), "user_id", "ts", "event_id", "value",
        col("value") > 100, col("value") < 10)
        .select(col("user_id"), unix_micros(col("w_start")),
          unix_micros(col("w_end")), col("n"), col("sum_val"))
        .collect().map(_.toString).sorted
      assert(got.length == batchRes.length,
        s"streaming emitted ${got.length} windows, batch ${batchRes.length}")
      assert(got.toSeq == batchRes.toSeq)
    } finally q.stop()
  }

  test("count window streaming: one emission per N events per key, seq continues across batches") {
    val ms = MemoryStream[StateEvt]
    val out = CountWindowStream.streaming(ms.toDS(), size = 2)
    val q = out.writeStream.format("memory").queryName("cw_out")
      .outputMode(OutputMode.Append).start()
    try {
      ms.addData((1 to 3).map(i => StateEvt(7L, i * 1000L, i.toDouble, open = false, close = false)))
      q.processAllAvailable()
      ms.addData((4 to 6).map(i => StateEvt(7L, i * 1000L, i.toDouble, open = false, close = false)))
      q.processAllAvailable()
      val rows = spark.table("cw_out").orderBy("windowSeq").collect()
      // 6 events, size 2 → 3 windows: (1,2),(3,4),(5,6)
      assert(rows.length == 3)
      assert(rows.map(_.getLong(1)).toSeq == Seq(0L, 1L, 2L))
      assert(rows.map(_.getDouble(3)).toSeq == Seq(3.0, 7.0, 11.0))
    } finally q.stop()
  }

  test("streaming funnel: per-stage user counts equal the batch funnel on real events") {
    import graft.operators.Temporal
    val stages = Seq("view", "click", "purchase")
    val windowUs = 7L * 86400 * 1000000
    val events = Tables(spark, sf, "events")
    // event-time-ordered delivery (the documented contract), 3 chunks
    val evs = events
      .select($"user_id", unix_micros($"ts").as("tsm"), $"event_type")
      .orderBy("tsm").collect()
      .map(r => FunnelEvt(r.getLong(0), r.getLong(1), r.getString(2)))
    val ms = MemoryStream[FunnelEvt]
    val q = FunnelStream.streaming(ms.toDS(), stages, windowUs)
      .writeStream.format("memory").queryName("funnel_hits")
      .outputMode(OutputMode.Append).start()
    try {
      val third = evs.length / 3
      ms.addData(evs.take(third)); q.processAllAvailable()
      ms.addData(evs.slice(third, 2 * third)); q.processAllAvailable()
      ms.addData(evs.drop(2 * third)); q.processAllAvailable()
      val gotCounts = spark.table("funnel_hits")
        .groupBy("stage").count().collect()
        .map(r => r.getInt(0) -> r.getLong(1)).toMap
      val batch = Temporal.funnel(events, "user_id", "ts", "event_type",
          stages, windowUs).collect()
        .map(r => r.getInt(0) -> r.getLong(2)).toMap
      assert(gotCounts == batch, s"stream=$gotCounts batch=$batch")
      // a hit row fires at most once per (user, stage)
      val dup = spark.table("funnel_hits").groupBy("user", "stage")
        .count().where($"count" > 1).count()
      assert(dup == 0)
    } finally q.stop()
  }

  test("funnel stream state survives a checkpointed restart") {
    import graft.operators.Temporal
    val stages = Seq("view", "click", "purchase")
    val windowUs = 7L * 86400 * 1000000
    val events = Tables(spark, sf, "events")
    val evs = events
      .select($"user_id", unix_micros($"ts").as("tsm"), $"event_type")
      .orderBy("tsm").collect()
      .map(r => FunnelEvt(r.getLong(0), r.getLong(1), r.getString(2)))
    val ckpt = tempDir("funnel_ck").toString
    val ms = MemoryStream[FunnelEvt]
    val half = evs.length / 2
    // the memory sink refuses checkpoint recovery — collect hits via
    // foreachBatch (recovery-capable) into a shared buffer instead
    val hits = new java.util.concurrent.ConcurrentLinkedQueue[FunnelHit]()
    def start() = FunnelStream.streaming(ms.toDS(), stages, windowUs)
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.Dataset[FunnelHit], _: Long) =>
        b.collect().foreach(hits.add)
      }
      .option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Append).start()
    val q1 = start()
    try { ms.addData(evs.take(half)); q1.processAllAvailable() }
    finally q1.stop()
    // restart from the same checkpoint: the state store must carry
    // every user's funnel progress, or stage-1 hits re-emit and the
    // totals inflate past the batch reference
    val q2 = start()
    try {
      ms.addData(evs.drop(half)); q2.processAllAvailable()
      val got = scala.jdk.CollectionConverters.CollectionHasAsScala(hits)
        .asScala.groupBy(_.stage).view.mapValues(_.size.toLong).toMap
      val batch = Temporal.funnel(events, "user_id", "ts", "event_type",
          stages, windowUs).collect()
        .map(r => r.getInt(0) -> r.getLong(2)).toMap
      assert(got == batch, s"after restart: stream=$got batch=$batch")
    } finally q2.stop()
  }

  test("streaming retention: per-(cohort, offset) counts equal the batch table on real events") {
    import graft.operators.Temporal
    val bucketUs = 7L * 86400 * 1000000
    val events = Tables(spark, sf, "events")
    val evs = events
      .select($"user_id", unix_micros($"ts").as("tsm"), $"event_type")
      .orderBy("tsm").collect()
      .map(r => FunnelEvt(r.getLong(0), r.getLong(1), r.getString(2)))
    val ms = MemoryStream[FunnelEvt]
    val q = RetentionStream.streaming(ms.toDS(), "signup", bucketUs, maxBuckets = 4)
      .writeStream.format("memory").queryName("ret_hits")
      .outputMode(OutputMode.Append).start()
    try {
      val third = evs.length / 3
      ms.addData(evs.take(third)); q.processAllAvailable()
      ms.addData(evs.slice(third, 2 * third)); q.processAllAvailable()
      ms.addData(evs.drop(2 * third)); q.processAllAvailable()
      val got = spark.table("ret_hits").groupBy("cohort", "offset")
        .count().collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
      val batch = Temporal.retention(events, "user_id", "ts", "event_type",
          "signup", bucketUs, maxBuckets = 4).collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
      assert(got == batch, s"stream=$got batch=$batch")
      // at most one hit per (user, cohort, offset)
      val dup = spark.table("ret_hits").groupBy("user", "cohort", "offset")
        .count().where($"count" > 1).count()
      assert(dup == 0)
    } finally q.stop()
  }

  test("streaming throttle passes exactly the batch first-N rows on real events") {
    import graft.operators.Temporal
    val bucketUs = 86400L * 1000000
    val events = Tables(spark, sf, "events")
    val evs = events
      .select($"user_id", unix_micros($"ts").as("tsm"), $"event_id", $"event_type")
      .orderBy("tsm", "event_id").collect()
      .map(r => ThEvt(r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val ms = MemoryStream[ThEvt]
    val q = ThrottleStream.streaming(ms.toDS(), bucketUs, maxPerBucket = 3)
      .writeStream.format("memory").queryName("th_out")
      .outputMode(OutputMode.Append).start()
    try {
      val third = evs.length / 3
      ms.addData(evs.take(third)); q.processAllAvailable()
      ms.addData(evs.slice(third, 2 * third)); q.processAllAvailable()
      ms.addData(evs.drop(2 * third)); q.processAllAvailable()
      val got = spark.table("th_out").select("id").collect()
        .map(_.getLong(0)).toSet
      val batch = Temporal.throttle(events, "user_id", "ts", "event_id",
          bucketUs, maxPerBucket = 3)
        .select("event_id").collect().map(_.getLong(0)).toSet
      assert(got == batch,
        s"sym-diff=${(got diff batch) ++ (batch diff got)}")
    } finally q.stop()
  }

  test("streaming anomaly gate: batch-trained med/mad thresholds flag a stream identically") {
    import graft.operators.Stats
    val events = Tables(spark, sf, "events")
    val e = events.select($"event_id", $"event_type", round($"value", 2).as("v"))
    val batchFlagged = Stats.robustOutliers(e, "event_type", "v", k = 3.5)
      .select("event_id").collect().map(_.getLong(0)).toSet
    // train once on the static window, then serve the SAME rows as a
    // stream through the broadcast-join gate across two micro-batches
    val th = Stats.robustThresholds(e, "event_type", "v").collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2)))
    val rows = e.collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    val ms = MemoryStream[(Long, String, Double)]
    val thDf = th.toSeq.toDF("event_type", "med", "mad")
    val q = Stats.flagAgainst(
        ms.toDS().toDF("event_id", "event_type", "v"),
        thDf, "event_type", "v", k = 3.5)
      .writeStream.format("memory").queryName("anom_out")
      .outputMode(OutputMode.Append).start()
    try {
      val half = rows.length / 2
      ms.addData(rows.take(half).toSeq); q.processAllAvailable()
      ms.addData(rows.drop(half).toSeq); q.processAllAvailable()
      val got = spark.table("anom_out").select("event_id").collect()
        .map(_.getLong(0)).toSet
      assert(got == batchFlagged,
        s"sym-diff=${(got diff batchFlagged) ++ (batchFlagged diff got)}")
    } finally q.stop()
  }

  test("streaming throttle buckets pre-epoch timestamps with floor, not truncation") {
    // floor(-1/10) = -1: the pre-epoch event owns its own bucket and
    // must NOT consume day-0's quota (Long '/' truncates toward zero
    // and would merge them — the batch operator uses SQL floor())
    val evs = Seq(
      ThEvt(1L, -1L, 1L, "x"),
      ThEvt(1L, 1L, 2L, "x"),
      ThEvt(1L, 2L, 3L, "x"))
    val ms = MemoryStream[ThEvt]
    val q = ThrottleStream.streaming(ms.toDS(), bucketUs = 10L, maxPerBucket = 1)
      .writeStream.format("memory").queryName("th_neg")
      .outputMode(OutputMode.Append).start()
    try {
      ms.addData(evs); q.processAllAvailable()
      val got = spark.table("th_neg").select("id").collect()
        .map(_.getLong(0)).toSet
      assert(got == Set(1L, 2L), got.toString)
    } finally q.stop()
  }

  test("analytic state streaming equals batch window functions across batches") {
    val evs = Seq(
      AnEvt(1L, 1000L, 10.0, "view"), AnEvt(1L, 2000L, 20.0, "view"),
      AnEvt(1L, 3000L, 5.0, "click"), AnEvt(2L, 1500L, 7.0, "buy"),
      AnEvt(1L, 4000L, 30.0, "click"), AnEvt(2L, 2500L, 3.0, "buy"))
    val ms = MemoryStream[AnEvt]
    val q = AnalyticStream.streaming(ms.toDS()).writeStream.format("memory")
      .queryName("an_out").outputMode(OutputMode.Append).start()
    try {
      ms.addData(evs.take(4)); q.processAllAvailable()
      ms.addData(evs.drop(4)); q.processAllAvailable()
      val got = spark.table("an_out").orderBy("key", "tsMicros").collect()
      assert(got.length == 6)
      // batch reference via window functions on the same data
      val batch = evs.toDF()
      batch.createOrReplaceTempView("an_in")
      val exp = spark.sql(
        """SELECT key, tsMicros,
          |  lag(value) OVER w AS lagVal,
          |  last_value(tag) IGNORE NULLS OVER (PARTITION BY key ORDER BY tsMicros
          |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS latestTag,
          |  coalesce(lag(tag) OVER w IS NULL OR lag(tag) OVER w <> tag, true) AS hadChanged,
          |  round(sum(value) OVER (PARTITION BY key ORDER BY tsMicros
          |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS accSum,
          |  count(*) OVER (PARTITION BY key ORDER BY tsMicros
          |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS accCnt,
          |  min(value) OVER (PARTITION BY key ORDER BY tsMicros
          |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS accMin,
          |  max(value) OVER (PARTITION BY key ORDER BY tsMicros
          |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS accMax
          |FROM an_in
          |WINDOW w AS (PARTITION BY key ORDER BY tsMicros)""".stripMargin)
        .orderBy("key", "tsMicros").collect()
      got.zip(exp).foreach { case (g, e) => assert(g.toString == e.toString, s"$g != $e") }
    } finally q.stop()
  }

  test("sliding window streaming equals batch range-frame on identical data") {
    val evs = Seq(
      StateEvt(1L, 1000000L, 1.0, open = false, close = false),
      StateEvt(1L, 1500000L, 2.0, open = false, close = false),
      StateEvt(1L, 2600000L, 4.0, open = false, close = false), // 1.0 falls out (>1s back)
      StateEvt(2L, 1000000L, 8.0, open = false, close = false),
      StateEvt(1L, 3500000L, 16.0, open = false, close = false))
    val ms = MemoryStream[StateEvt]
    val q = SlidingWindowStream.streaming(ms.toDS(), windowMicros = 1000000L)
      .writeStream.format("memory").queryName("slide_out")
      .outputMode(OutputMode.Append).start()
    try {
      ms.addData(evs.take(3)); q.processAllAvailable()
      ms.addData(evs.drop(3)); q.processAllAvailable()
      val got = spark.table("slide_out").orderBy("key", "tsMicros").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      // expected: trailing 1s window, inclusive of both bounds
      val byKey = evs.groupBy(_.key)
      val expected = evs.sortBy(e => (e.key, e.tsMicros)).map { e =>
        val in = byKey(e.key).filter(x =>
          x.tsMicros <= e.tsMicros && x.tsMicros >= e.tsMicros - 1000000L)
        (e.key, e.tsMicros, in.size.toLong, math.rint(in.map(_.value).sum * 100) / 100)
      }
      assert(got.toSeq == expected, s"got ${got.toSeq}\nexp $expected")
    } finally q.stop()
  }

  test("streaming tumble agg equals batch tumble agg on identical data") {
    val batchDf = Tables(spark, sf, "events").limit(500).cache()
    val expected = StreamingWindows.tumbleAgg(batchDf, "ts", "value", "60 seconds", Seq("event_type"))
      .collect().map(_.toString).sorted

    val ms = MemoryStream[(java.sql.Timestamp, String, Double)]
    val sdf = ms.toDF().toDF("ts", "event_type", "value")
    val out = StreamingWindows.tumbleAgg(sdf, "ts", "value", "60 seconds", Seq("event_type"))
    val q = out.writeStream.format("memory").queryName("tumble_out")
      .outputMode(OutputMode.Complete).start()
    try {
      val data = batchDf.select("ts", "event_type", "value").collect()
        .map(r => (r.getTimestamp(0), r.getString(1), r.getDouble(2))).toSeq
      ms.addData(data.take(250))
      q.processAllAvailable()
      ms.addData(data.drop(250)) // incremental update of existing windows
      q.processAllAvailable()
      val got = spark.table("tumble_out").collect().map(_.toString).sorted
      assert(got.toSeq == expected.toSeq)
    } finally { q.stop(); batchDf.unpersist() }
  }

  test("watermark drops events later than the tolerance (lateTolerance semantics)") {
    def ts(sec: Long) = new java.sql.Timestamp(sec * 1000)
    val ms = MemoryStream[(java.sql.Timestamp, String, Double)]
    val sdf = ms.toDF().toDF("ts", "event_type", "value")
    // 10s tumbling windows, 5s watermark, append mode → a window only
    // emits once the watermark passes its end, and later arrivals for
    // it are dropped
    val out = StreamingWindows.tumbleAgg(sdf, "ts", "value", "10 seconds",
      Seq("event_type"), watermark = "5 seconds")
    val q = out.writeStream.format("memory").queryName("wm_out")
      .outputMode(OutputMode.Append).start()
    try {
      ms.addData(Seq((ts(1), "a", 1.0), (ts(2), "a", 2.0)))
      q.processAllAvailable()
      ms.addData(Seq((ts(30), "a", 5.0))) // watermark → 25s, closes [0,10)
      q.processAllAvailable()
      val closed = spark.table("wm_out").where(col("ws") === 0).collect()
      assert(closed.length == 1 && closed(0).getLong(2) == 2 &&
        closed(0).getDouble(3) == 3.0)
      // a late event inside the closed window is dropped, not re-emitted
      ms.addData(Seq((ts(3), "a", 100.0)))
      q.processAllAvailable()
      val after = spark.table("wm_out").where(col("ws") === 0).collect()
      assert(after.length == 1 && after(0).getDouble(3) == 3.0,
        "late event beyond the watermark must not change the closed window")
    } finally q.stop()
  }

  test("streaming session window equals batch on identical data") {
    val batchDf = Tables(spark, sf, "events").limit(300).cache()
    val expected = StreamingWindows.sessionAgg(batchDf, "ts", "value", "3600 seconds", Seq("user_id"))
      .collect().map(_.toString).sorted
    val ms = MemoryStream[(java.sql.Timestamp, Long, Double)]
    val sdf = ms.toDF().toDF("ts", "user_id", "value")
    val out = StreamingWindows.sessionAgg(sdf, "ts", "value", "3600 seconds", Seq("user_id"))
    val q = out.writeStream.format("memory").queryName("sess_out")
      .outputMode(OutputMode.Complete).start()
    try {
      val data = batchDf.select("ts", "user_id", "value").collect()
        .map(r => (r.getTimestamp(0), r.getLong(1), r.getDouble(2))).toSeq
      ms.addData(data)
      q.processAllAvailable()
      val got = spark.table("sess_out").collect().map(_.toString).sorted
      assert(got.toSeq == expected.toSeq)
    } finally { q.stop(); batchDf.unpersist() }
  }

  test("funnel expireState drops dead state at anchor+window (documented re-anchor)") {
    val stages = Seq("view", "click", "purchase")
    val ms = MemoryStream[FunnelEvt]
    val q = FunnelStream.streaming(ms.toDS(), stages, windowUs = 100L,
        expireState = true)
      .writeStream.format("memory").queryName("funnel_exp")
      .outputMode(OutputMode.Append).start()
    try {
      // timestamps sit strictly ABOVE the initial zero watermark and
      // strictly increase across batches: the expireState path runs
      // under a watermark, which drops rows at or below it
      // batch 1: user 1 anchors and advances; a far-future filler
      // event pushes the watermark way past user 1's window end
      ms.addData(Seq(FunnelEvt(1L, 10000000L, "view"),
        FunnelEvt(1L, 10000050L, "click"),
        FunnelEvt(9L, 15000000L, "other")))
      q.processAllAvailable()
      // batch 2: the timeout fires (watermark 15 s ≫ window end) and
      // user 1's record is removed
      ms.addData(Seq(FunnelEvt(9L, 20000000L, "other")))
      q.processAllAvailable()
      // batch 3: user 1 returns AFTER expiry → re-anchors and emits a
      // second stage-1 hit — the documented divergence from batch
      ms.addData(Seq(FunnelEvt(1L, 30000000L, "view")))
      q.processAllAvailable()
      val hits = spark.table("funnel_exp").where($"user" === 1L)
        .orderBy("tsMicros").collect()
        .map(r => (r.getInt(1), r.getLong(2))).toSeq
      assert(hits == Seq((1, 10000000L), (2, 10000050L), (1, 30000000L)),
        s"expected re-anchor after expiry, got $hits")
    } finally q.stop()
  }

  test("retention expireState drops dead state at the horizon (documented re-cohort)") {
    val ms = MemoryStream[FunnelEvt]
    // horizon = 10 µs × 2 buckets = 20 µs
    val q = RetentionStream.streaming(ms.toDS(), "signup", bucketUs = 10L,
        maxBuckets = 2, expireState = true)
      .writeStream.format("memory").queryName("ret_exp")
      .outputMode(OutputMode.Append).start()
    try {
      // strictly-positive, cross-batch-increasing timestamps (the
      // watermark drops rows at or below it — see the funnel test)
      ms.addData(Seq(FunnelEvt(1L, 10000000L, "signup"),
        FunnelEvt(1L, 10000015L, "act"),
        FunnelEvt(9L, 15000000L, "act")))
      q.processAllAvailable()
      ms.addData(Seq(FunnelEvt(9L, 20000000L, "act")))
      q.processAllAvailable()
      // user 1 re-anchors on a NEW signup after expiry: a fresh cohort
      ms.addData(Seq(FunnelEvt(1L, 30000000L, "signup")))
      q.processAllAvailable()
      val hits = spark.table("ret_exp").where($"user" === 1L)
        .orderBy("cohort", "offset").collect()
        .map(r => (r.getLong(1), r.getLong(2))).toSeq
      assert(hits == Seq((1000000L, 0L), (1000000L, 1L), (3000000L, 0L)),
        s"expected re-cohort after expiry, got $hits")
    } finally q.stop()
  }

  test("throttle expireState removes state yet passes exactly the same rows") {
    import graft.operators.Temporal
    // strictly-positive, cross-batch-increasing timestamps (the
    // watermark drops rows at or below it — see the funnel test)
    val evs = Seq(
      ThEvt(1L, 10000000L, 1L, "x"), ThEvt(1L, 10000005L, 2L, "x"),
      ThEvt(2L, 10000001L, 3L, "x"), ThEvt(3L, 10000002L, 4L, "x"),
      ThEvt(9L, 15000000L, 9L, "x"))
    val later = Seq(ThEvt(9L, 20000000L, 10L, "x"))
    val after = Seq(ThEvt(1L, 30000000L, 11L, "x"))
    val ms = MemoryStream[ThEvt]
    val q = ThrottleStream.streaming(ms.toDS(), bucketUs = 10L,
        maxPerBucket = 1, expireState = true)
      .writeStream.format("memory").queryName("th_exp")
      .outputMode(OutputMode.Append).start()
    try {
      ms.addData(evs); q.processAllAvailable()
      ms.addData(later); q.processAllAvailable()
      ms.addData(after); q.processAllAvailable()
      val got = spark.table("th_exp").select("id").collect()
        .map(_.getLong(0)).toSet
      // expiry is EXACTLY semantics-preserving for the throttle: the
      // passed set equals the batch first-N on the same rows
      val batch = Temporal.throttle(
          (evs ++ later ++ after).toDF()
            .select($"user", timestamp_micros($"tsMicros").as("ts"),
              $"id", $"etype"),
          "user", "ts", "id", bucketUs = 10L, maxPerBucket = 1)
        .select("id").collect().map(_.getLong(0)).toSet
      assert(got == batch, s"sym-diff=${(got diff batch) ++ (batch diff got)}")
      // and the state store shrank: keys 1/2/3 expired once the
      // watermark passed their bucket ends (peak ≥ 4 keys, final < peak)
      val totals = q.recentProgress.toSeq
        .flatMap(p => p.stateOperators.headOption.map(_.numRowsTotal))
      assert(totals.nonEmpty && totals.last < totals.max,
        s"state rows never shrank: $totals")
    } finally q.stop()
  }
}
