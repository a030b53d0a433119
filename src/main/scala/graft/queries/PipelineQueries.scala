package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.{Bpe, Classifier, Dedup, Knn, Multimodal, Search, TextOps}

/** SURVEY §2.9 — LLM-scale data-pipeline operators over the
  * documents/embeddings tables: dedup (exact, minhash LSH, simhash,
  * Jaccard verify), ANN (brute cosine, LSH buckets), text analysis
  * (langid, quality, tokens, fingerprint), multimodal plumbing.
  *
  * DuckDB-expressible ops carry full oracles; the hash-based ones are
  * rows-only here with behavior pinned by PipelineSpec (planted
  * duplicates, ANN recall, decoder goldens). The near-dup queries plant
  * perturbed copies of 25 documents so the operator's output is
  * non-empty, deterministic, and self-demonstrating at every SF.
  */
object PipelineQueries {

  /** The DuckDB rendering of TextOps.qualityScore — ONE definition
    * interpolated into every quality-scoring oracle (q_text_quality,
    * q_corpus_stats, q_quality_quantiles), so the Spark formula and
    * its SQL replay cannot drift apart per-query. Margin pipes stay:
    * interpolation runs before the enclosing oracle's stripMargin.
    * Expects `text` and `toks` columns in scope.
    */
  private val qualitySql: String =
    """round(
        |    0.3 * (length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
        |           / greatest(length(text), 1))
        |    + 0.3 * least(5 * CASE WHEN len(toks) > 0
        |        THEN len(list_filter(toks, x -> list_contains(
        |          ['the','a','of','and','to','in','is','it','that','for'], x)))
        |          / CAST(len(toks) AS DOUBLE) ELSE 0.0 END, 1.0)
        |    + 0.2 * (CASE WHEN length(text) BETWEEN 50 AND 100000 THEN 1.0 ELSE 0.0 END)
        |    + 0.1 * (CASE WHEN len(toks) > 0 AND
        |        list_sum(list_transform(toks, x -> len(x))) / CAST(len(toks) AS DOUBLE)
        |          BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.0 END)
        |    + 0.1 * (1.0 - least(10 * (length(text)
        |        - length(regexp_replace(text, '[[:punct:]]', '', 'g')))
        |        / greatest(length(text), 1), 1.0)), 6)"""


  private def docs(s: SparkSession, d: String) = Tables(s, d, "documents")
  private def emb(s: SparkSession, d: String) = Tables(s, d, "embeddings")

  /** documents ∪ near-duplicate copies of doc_id < 25 (id + 100000,
    * text with a short appended suffix — high but non-1.0 Jaccard).
    */
  private def withPlanted(docs: DataFrame): DataFrame = {
    val base = docs.select(col("doc_id"), col("text"))
    base.unionByName(
      docs.where(col("doc_id") < 25).select(
        (col("doc_id") + 100000).as("doc_id"),
        concat(col("text"), lit(" appended near duplicate suffix")).as("text")))
  }

  val qs: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- dedup ----
    "q_dedup_exact" -> ((s, d) =>
      Dedup.exact(withPlanted(docs(s, d))
        .unionByName(docs(s, d).where(col("doc_id") < 10)
          .select((col("doc_id") + 200000).as("doc_id"), col("text"))),
        "text", "doc_id")),

    // near-dup candidate pairs over the portable minhash family — the
    // band/est arithmetic replays in DuckDB → FULL oracle.
    "q_dedup_minhash" -> ((s, d) =>
      Dedup.minhashPairs(withPlanted(docs(s, d)), "text", "doc_id",
        n = 3, k = 32, bands = 16, minEstJaccard = 0.5)
        .orderBy(col("a"), col("b"))),

    // simhash near-dup pairs over the portable token-hash family — the
    // per-bit sign sums, 16-bit chunk blocking, and hamming filter all
    // replay in DuckDB → FULL oracle. The same chunk blocking
    // ([[Dedup.sigPairs]]) backs the image dHash path.
    "q_dedup_simhash" -> ((s, d) =>
      Dedup.simhashPairs(withPlanted(docs(s, d)), "text", "doc_id", maxHamming = 3)
        .orderBy(col("a"), col("b"))),

    // incremental dedup: new-batch rows not already in the corpus,
    // via a corpus Bloom filter + broadcast verify (exact result —
    // full oracle below is a plain anti-join on content)
    "q_dedup_bloom" -> ((s, d) => {
      val all = docs(s, d).select(col("doc_id"), col("text"))
      val corpus = all.where(col("doc_id") % 10 =!= 0)
      val batch = all.where(col("doc_id") % 10 === 0)
        .unionByName(all.where(col("doc_id") % 10 === 1 && col("doc_id") < 50)
          .select((col("doc_id") + 300000).as("doc_id"), col("text")))
      Dedup.bloomNewDocs(corpus, batch, "text", expectedItems = 100000)
        .select(col("doc_id"))
    }),

    // exact n-gram Jaccard verification of portable-minhash candidate
    // pairs. jaccardVerify intersects 64-bit shingle HASHES; set
    // cardinalities equal the string-shingle sets the oracle intersects
    // (injective up to ~2⁻⁶⁴ collisions) → FULL oracle.
    "q_dedup_jaccard" -> ((s, d) => {
      val planted = withPlanted(docs(s, d))
      Dedup.jaccardVerify(
        Dedup.minhashPairs(planted, "text", "doc_id", minEstJaccard = 0.3)
          .select(col("a"), col("b")),
        planted, "text", "doc_id", n = 3, minJaccard = 0.5)
        .orderBy(col("a"), col("b"))
    }),

    // transitive near-dup clusters over the portable pair graph,
    // labeled by large-star/small-star contraction ([[Dedup.clusters]],
    // also under q_dedup_keepbest). DuckDB replays the components as a
    // recursive min-label closure → FULL oracle.
    "q_dedup_cluster" -> ((s, d) => {
      val planted = withPlanted(docs(s, d))
      Dedup.clusters(
        Dedup.minhashPairs(planted, "text", "doc_id", minEstJaccard = 0.5)
          .select(col("a"), col("b")))
        .orderBy(col("id"))
    }),

    // corpus snapshot diff (incremental training-data refresh): v2
    // deletes every doc_id % 7 == 0, edits every doc_id % 5 == 0
    // survivor, and adds 15 new docs. One id-keyed digest join — the
    // oracle compares text directly (equivalent to the sha-256
    // compare). FULL oracle.
    "q_corpus_diff" -> ((s, d) => {
      val v1 = docs(s, d)
      val v2 = v1.where(col("doc_id") % 7 =!= 0)
        .select(col("doc_id"),
          when(col("doc_id") % 5 === 0, concat(col("text"), lit(" [edited]")))
            .otherwise(col("text")).as("text"))
        .unionByName(v1.where(col("doc_id") < 15)
          .select((col("doc_id") + 900000).as("doc_id"), col("text")))
      Dedup.corpusDiff(v1, v2, "doc_id", "text").orderBy(col("id"))
    }),

    // corpus drift report — corpusDiff's statistical sibling: did the
    // token DISTRIBUTION move between two snapshots (v1/v2 = two
    // overlapping thirds of the corpus)? Top-30 movers ranked by the
    // exact integer cross-count difference, each with both relative
    // frequencies and its Jensen-Shannon contribution (nats). Two
    // corpus scans fold map-side to vocabularies; only the vocab
    // tables join. FULL oracle (ln replays; ranking is integer).
    "q_corpus_drift" -> ((s, d) => {
      val all = docs(s, d)
      TextOps.driftReport(
        all.where(col("doc_id") % 3 =!= 0),
        all.where(col("doc_id") % 3 =!= 1),
        "text", topN = 30)
    }),

    // incremental corpus refresh E2E — the production loop a monthly
    // crawl refresh runs, composing four already-verified operators:
    // corpusDiff classifies v2 vs v1 (digests only shuffle); the
    // added/changed DELTA (broadcast-small by refresh nature) selects
    // v2's candidate slice map-side; a token hygiene gate filters it;
    // bloomNewDocs strips content already in v1 (two v1 scans, zero v1
    // shuffles — catches docs that moved ids); carried rows are v1
    // anti-joined against the broadcast delta (v1 text never
    // shuffles); the merged corpus gets exportShards' deterministic
    // content-addressed shard (portable md5 form here; production
    // writes via Layout.exportShards with the xxhash kernel).
    // Planted v2: id%7==0 removed; id%5==0 edited; 15 re-added copies
    // (bloom-filtered as dups); 15 genuinely-new docs, a third of them
    // too short for the hygiene gate. FULL oracle: every stage is an
    // id/text join, a length filter, or md5 arithmetic.
    "q_refresh_e2e" -> ((s, d) => {
      val v1 = docs(s, d).select(col("doc_id"), col("text"))
      val v2 = v1.where(col("doc_id") % 7 =!= 0)
        .select(col("doc_id"),
          when(col("doc_id") % 5 === 0, concat(col("text"), lit(" [edited]")))
            .otherwise(col("text")).as("text"))
        .unionByName(v1.where(col("doc_id") < 15)
          .select((col("doc_id") + 900000).as("doc_id"), col("text")))
        .unionByName(v1.where(col("doc_id") >= 15 && col("doc_id") < 30)
          .select((col("doc_id") + 800000).as("doc_id"),
            when(col("doc_id") % 3 === 0, lit("tiny new doc"))
              .otherwise(concat(col("text"),
                lit(" fresh crawl content for the monthly refresh")))
              .as("text")))
      // the delta is refresh-bounded (small) and fans out into four
      // consumer branches — materialize it once (eager localCheckpoint)
      // so the digest-diff subtree isn't replicated per branch (4 extra
      // corpus digest passes otherwise)
      val delta = Dedup.corpusDiff(v1, v2, "doc_id", "text")
        .where(col("status") =!= "unchanged").localCheckpoint(true)
      val candidates = v2.join(
        broadcast(delta.where(col("status").isin("added", "changed"))),
        v2("doc_id") === delta("id"))
        .select(v2("doc_id"), v2("text"))
      val gated = candidates.where(TextOps.tokenCount(col("text")) >= 12)
        .localCheckpoint(true) // ditto: three branches inside bloomNewDocs
      val fresh = Dedup.bloomNewDocs(v1, gated, "text", expectedItems = 100000)
      val carried = v1.join(
        broadcast(delta.where(col("status").isin("removed", "changed"))),
        v1("doc_id") === delta("id"), "left_anti")
      carried.select(col("doc_id"), col("text"), lit("carried").as("origin"))
        .unionByName(fresh.select(col("doc_id"), col("text"),
          lit("refreshed").as("origin")))
        .select(col("doc_id"), col("origin"),
          pmod(graft.functions.TextHashFunctions.hex_slice_long(
            md5(col("text")), 1), lit(8L)).as("shard"),
          md5(col("text").cast("binary")).as("text_md5"))
    }),

    // SemDeDup (cluster-then-compare) over embeddings with planted
    // exact clones: two clone generations of vec_id < 20. Identical
    // vectors land in the same k-means cell by construction, and the
    // corpus's max natural cosine is ~0.51, so at threshold 0.95 the
    // cluster-local result coincides with the brute-force pair set —
    // which is what the DuckDB oracle computes. The operator's
    // approximation behavior on NEAR-clones is DedupSpec's contract.
    "q_dedup_semantic" -> ((s, d) => {
      val e = emb(s, d)
      val clones = e.where(col("vec_id") < 20)
      val planted = e
        .unionByName(clones.select((col("vec_id") + 100000).as("vec_id"),
          col("embedding"), col("label")))
        .unionByName(clones.select((col("vec_id") + 200000).as("vec_id"),
          col("embedding"), col("label")))
      Dedup.semanticDups(planted, "vec_id", "embedding",
          cells = 16, iters = 1, threshold = 0.95)
        .select(col("id"), col("rep_id"), col("cos"))
    }),

    // embedding-cosine near-dup: all (a < b) pairs above threshold in
    // the probe subset — brute-force exact, DuckDB-oracled.
    "q_dedup_embed" -> ((s, d) => {
      val e = emb(s, d).where(col("vec_id") < 300)
      val a = e.select(col("vec_id").as("a"), col("embedding").as("va"))
      val b = e.select(col("vec_id").as("b"), col("embedding").as("vb"))
      a.join(b, col("a") < col("b"))
        .withColumn("cos", round(Knn.cosine(col("va"), col("vb")), 5))
        .where(col("cos") >= 0.3)
        .select(col("a"), col("b"), col("cos"))
    }),

    // distributed PCA over the embedding corpus: one-pass moment fit
    // (driver sees dim² moments only), then the identity var(projᵢ)=λᵢ
    // demonstrated DISTRIBUTEDLY — per component, the variance of the
    // codegen projection across the corpus must reproduce the driver-
    // solved eigenvalue. Output is rotation-invariant (spectrum +
    // projection variances), so the golden is stable even where the
    // near-isotropic synthetic spectrum makes individual eigenvectors
    // ill-conditioned. PcaSpec owns planted-structure recovery,
    // orthonormality, residual math, and the Jacobi solver itself.
    "q_embed_pca" -> ((s, d) => {
      val e = emb(s, d)
      val model = graft.operators.Pca.fit(e, "embedding", 8)
      val spec = model.eigenvalues.zip(model.explainedRatio).zipWithIndex
        .map { case ((ev, r), i) => (i, ev, r) }.toSeq
      val specDf = s.createDataFrame(spec).toDF("comp", "eigenvalue", "explained")
      e.select(posexplode(graft.operators.Pca.project(col("embedding"), model))
          .as(Seq("comp", "p")))
        .groupBy(col("comp"))
        .agg(round(var_pop(col("p")), 4).as("proj_var"))
        .join(broadcast(specDf), "comp")
        .select(col("comp"), round(col("eigenvalue"), 4).as("eigenvalue"),
          col("proj_var"), round(col("explained"), 4).as("explained"))
    }),

    // ---- similarity search ----
    "q_knn_cosine" -> ((s, d) => {
      val e = emb(s, d)
      Knn.bruteForceTopK(e.where(col("vec_id") < 10), e, "vec_id", "embedding", k = 10)
    }),

    // margin-based bitext mining (Artetxe & Schwenk 2019): the first
    // 100 vectors as the "source language", the rest as the "target";
    // best target match per source scored by the ratio margin over
    // both sides' k-NN neighborhood averages. DuckDB replays the
    // whole construction → FULL oracle.
    "q_knn_bitext" -> ((s, d) => {
      val e = emb(s, d)
      Knn.marginMining(e.where(col("vec_id") < 100),
        e.where(col("vec_id") >= 100), "vec_id", "embedding",
        k = 4, threshold = 1.0)
    }),

    // MMR diversified selection (Carbonell & Goldstein 1998): top-25
    // most-relevant-yet-diverse items for the vec-0 query — relevance
    // is broadcast-literal cosine, the greedy loop runs on the
    // TakeOrdered-bounded pool. Iterative selection has no SQL
    // replay → rows-only golden (the q_dedup_cluster precedent).
    "q_knn_mmr" -> ((s, d) => {
      val e = emb(s, d)
      val qv = e.where(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0)
      val cands = e.select(col("vec_id"), col("embedding"),
        graft.operators.Knn.cosine(col("embedding"),
          typedlit(qv).cast("array<float>")).as("rel"))
      Knn.mmrSelect(cands, "vec_id", "embedding", "rel",
        k = 25, lambda = 0.7, poolK = 200)
    }),

    // contrastive-training triplets: nearest same-label item as the
    // positive, nearest different-label item as the hard negative —
    // the classes rank separately, so a label-clustered corpus still
    // yields negatives (DuckDB replays the whole construction, so this
    // is a full-oracle query; the IVF-pruned variant shares the code
    // path and KnnSpec covers it).
    "q_knn_hardneg" -> ((s, d) => {
      val e = emb(s, d)
      Knn.miningTriplets(e.where(col("vec_id") < 50), e,
        "vec_id", "embedding", "label")
    }),

    "q_knn_ivf" -> ((s, d) => {
      val e = emb(s, d)
      Knn.ivfTopK(e.where(col("vec_id") < 10), e, "vec_id", "embedding",
        k = 10, cells = 16, probes = 4)
    }),

    "q_knn_lsh" -> ((s, d) => {
      val e = emb(s, d)
      Knn.lshTopK(e.where(col("vec_id") < 10), e, "vec_id", "embedding",
        k = 10, bits = 6, tables = 4, probes = 1)
    }),

    // LSH recall/selectivity sweep: for prefix lengths 2/4/6/8 of one
    // 8-bit hyperplane signature, mean candidate-set size vs mean
    // recall@10 against the brute-force truth — the measured curve an
    // operator reads before fixing the ANN config. FULL oracle (the
    // plane constants inline; prefix = integer division).
    "q_knn_recall" -> ((s, d) => {
      val e = emb(s, d)
      Knn.recallCurve(e.where(col("vec_id") < 10), e, "vec_id", "embedding",
        k = 10, bits = 8, levels = Seq(2, 4, 6, 8))
    }),

    // int8-quantized brute top-k (4× smaller scan payload; recall vs
    // the float baseline pinned in KnnSpec) — rows-only + golden
    "q_knn_quant" -> ((s, d) => {
      val e = emb(s, d)
      Knn.bruteQuantTopK(e.where(col("vec_id") < 10), e, "vec_id", "embedding", k = 10)
    }),

    // product-quantized ANN: corpus stored as 16 one-byte codes per
    // 64-dim vector (16x), asymmetric-distance scoring — golden-pinned
    // like q_knn_ivf (codebooks come from distributed float averaging)
    "q_knn_pq" -> ((s, d) => {
      val e = emb(s, d)
      Knn.pqTopK(e.where(col("vec_id") < 10), e, "vec_id", "embedding", k = 10)
    }),

    // the FAISS-IVFPQ shape: probe-pruned cells over the compressed
    // corpus — golden-pinned for the same reason
    "q_knn_ivfpq" -> ((s, d) => {
      val e = emb(s, d)
      Knn.ivfPqTopK(e.where(col("vec_id") < 10), e, "vec_id", "embedding",
        k = 10, cells = 16, probes = 4)
    }),

    // ---- text analysis ----
    "q_text_quality" -> ((s, d) =>
      docs(s, d).select(
        col("doc_id"),
        length(col("text")).cast("long").as("n_chars_v"),
        TextOps.tokenCount(col("text")).as("n_tokens"),
        round(TextOps.punctRatio(col("text")), 6).as("punct_ratio"),
        round(TextOps.alphaRatio(col("text")), 6).as("alpha_ratio"),
        round(TextOps.meanWordLen(col("text")), 6).as("mean_word_len"),
        round(TextOps.stopwordRatio(col("text")), 6).as("stopword_ratio"),
        TextOps.qualityScore(col("text")).as("quality"))),

    // PR-curve threshold sweep: calibrate the quality-filter cutoff
    // against a rule-oracle label (stopword-rich docs). One bucket
    // partial-agg over the corpus, then tiny-table cumulative
    // arithmetic — FULL oracle (every step is integer counting over
    // engine-identical doubles).
    "q_quality_prcurve" -> ((s, d) => {
      val scored = docs(s, d).select(
        TextOps.qualityScore(col("text")).as("score"),
        (TextOps.stopwordRatio(col("text")) > 0.08).as("y"))
      TextOps.prCurve(scored, "score", "y", steps = 20)
    }),

    // calibration / reliability diagram of the quality score against
    // the same rule label — one bucket partial-agg; FULL oracle.
    "q_quality_calibration" -> ((s, d) => {
      val scored = docs(s, d).select(
        TextOps.qualityScore(col("text")).as("score"),
        (TextOps.stopwordRatio(col("text")) > 0.08).as("y"))
      TextOps.calibration(scored, "score", "y", bins = 10)
    }),

    // grouped ROC AUC of the quality score against the same rule
    // label — the threshold-free separability number per source,
    // completing the calibration family (prCurve → threshold choice,
    // calibration → probability trust, AUC → ranking power). One
    // shuffle on source + in-group sort; FULL oracle (average ranks
    // are exact multiples of 0.5, so every summation order agrees).
    "q_quality_auc" -> ((s, d) => {
      val scored = docs(s, d).select(col("source"),
        TextOps.qualityScore(col("text")).as("score"),
        (TextOps.stopwordRatio(col("text")) > 0.08).as("y"))
      TextOps.rocAuc(scored, "source", "score", "y")
    }),

    // deterministic 80/10/10 split assignment (md5 id bucket — stable
    // across runs/engines/corpus growth), audited as per-split,
    // per-language counts. FULL oracle.
    "q_split_assign" -> ((s, d) =>
      docs(s, d).select(
          TextOps.splitAssign(col("doc_id"),
            Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)).as("split"),
          col("lang"))
        .groupBy(col("split"), col("lang"))
        .agg(count(lit(1)).as("n_docs"))),

    // fastText-style quality classifier end-to-end, in the reference-
    // vs-garbage shape the GPT-3/LLaMA data filters use: the corpus
    // itself is the positive class, a deterministic corruption of it
    // (vowel-substituted tokens — out-of-vocabulary garbage) is the
    // negative class; train, then score both sides map-only with the
    // codegen kernel. Training is deterministic (pid-ordered gradient
    // sum), so the golden pins both halves. ClassifierSpec owns
    // accuracy (planted signal + this construction) and the
    // treeAggregate ≈ deterministic-path equivalence.
    "q_quality_classifier" -> ((s, d) => {
      val corrupt = translate(col("text"), "aeiou", "xqzvk")
      val tr = docs(s, d).select(col("text"), lit(1).as("y"))
        .unionAll(docs(s, d).select(corrupt.as("text"), lit(0).as("y")))
      val w = Classifier.train(tr, "text", "y", dim = 1 << 15, iters = 30, lr = 4.0)
      docs(s, d).select(
        col("doc_id"),
        round(Classifier.score(col("text"), w), 2).as("clean_score"),
        round(Classifier.score(corrupt, w), 2).as("garbage_score"))
    }),

    // unigram-LM (SentencePiece-style) tokenizer trained on the corpus
    // itself, then every document Viterbi-encoded map-only: subword
    // count + description length under the learned piece probabilities.
    // Hard-EM counts are freq-weighted longs, so training is
    // bit-deterministic at any layout and the golden pins both halves.
    // UnigramLmSpec owns segmentation correctness / round-trips.
    "q_text_unigram" -> ((s, d) => {
      val model = graft.operators.UnigramLm.train(docs(s, d), "text",
        vocabSize = 500, iters = 3)
      docs(s, d).select(
        col("doc_id"),
        size(graft.operators.UnigramLm.encode(col("text"), model))
          .cast("long").as("n_pieces"),
        round(graft.operators.UnigramLm.scoreBits(col("text"), model), 2).as("bits"))
    }),

    "q_text_tokens" -> ((s, d) =>
      docs(s, d).select(
        col("doc_id"),
        TextOps.tokenCount(col("text")).as("ws_tokens"),
        TextOps.bpeTokenCount(col("text")).as("bpe_tokens"))),

    "q_text_langid" -> ((s, d) =>
      docs(s, d).select(
        col("doc_id"),
        TextOps.langId(col("text")).as("lang_pred"),
        round(TextOps.stopwordRatio(col("text"), "en"), 6).as("en_ratio"))),

    // Per-language stopword-hit ratios — the langId kernel's raw
    // inputs as a fully-oracled projection (langId itself argmaxes
    // these and is golden-pinned; this query pins the scores the
    // argmax reads, per language, against DuckDB).
    "q_text_langscores" -> ((s, d) =>
      docs(s, d).select(Seq(col("doc_id")) ++
        TextOps.stopwords.keys.toSeq.sorted.map(l =>
          round(TextOps.stopwordRatio(col("text"), l), 6).as(s"r_$l")): _*)),

    // document fingerprint (min-sampled shingle hash) over the
    // portable md5 family — FULL oracle (min per doc of the md5-derived
    // base hashes, whole-text fallback for sub-shingle docs).
    "q_text_fingerprint" -> ((s, d) =>
      docs(s, d).select(
        col("doc_id"),
        TextOps.fingerprint(col("text")).as("fp"),
        TextOps.fingerprint(col("text"), n = 8).as("fp8"))),

    // ---- multimodal plumbing (stub decoder, real batch shape) ----
    "q_multimodal" -> ((s, d) => Multimodal.features(s, docs(s, d))),

    // ---- corpus hygiene ----
    // Corpus-derived boilerplate/stopword removal (C4/CCNet hygiene):
    // terms in ≥50 % of documents are stripped everywhere. Word
    // delimiter here (the synthetic corpus shares words, not lines);
    // delimiter="\n" is the production boilerplate-line form. The
    // order-preserving `cleaned` rebuild is pinned by TextOpsSpec; the
    // oracle checks the removed/kept/char accounting.
    // perceptual image near-dup pairs over REAL PNGs: deterministic
    // synthesized images per doc + planted brightness-shifted copies;
    // dHash is decode-dependent (no SQL replay) → rows-only golden.
    // MultimodalSpec owns planted recall and dHash invariances.
    "q_multimodal_dups" -> ((s, d) => {
      import s.implicits._
      val base = docs(s, d).where(col("doc_id") < 200)
        .select(col("doc_id").cast("long"), col("text")).as[(Long, String)]
      val imgs = base.mapPartitions(_.flatMap { case (id, text) =>
        val raw = text.getBytes("UTF-8")
        val orig = (id, Multimodal.syntheticPng(raw))
        if (id < 25) Seq(orig, (id + 100000L, Multimodal.syntheticPng(raw, shift = 30)))
        else Seq(orig)
      }).toDF("img_id", "png")
      Multimodal.imageDupPairs(imgs, "img_id", "png", maxHamming = 2)
    }),

    "q_text_boilerplate" -> ((s, d) =>
      TextOps.stripBoilerplate(docs(s, d), "doc_id", "text", " ", 0.5)
        .select(col("doc_id"), col("removed_terms"), col("kept_terms"),
          col("kept_chars"))),

    // Corpus-wide paragraph-level exact dedup (Dolma/C4): every
    // repeated span keeps only its first occurrence (doc id, then
    // position), documents are rebuilt in order. The synthetic corpus
    // has no newlines, so the span delimiter is a frequent vocabulary
    // word — same machinery as delimiter="\n\n" in production; the
    // DuckDB oracle replays the full keep-first + rebuild semantics
    // including the rebuilt text.
    "q_text_paradedup" -> ((s, d) =>
      TextOps.paragraphDedup(docs(s, d), "doc_id", "text", " table ")),

    // Corpus-self-trained bigram perplexity (CCNet-style LM quality
    // filter): the full count→score→regroup pipeline replayed by the
    // DuckDB oracle, including the add-k smoothing math.
    "q_text_perplexity" -> ((s, d) =>
      TextOps.lmPerplexity(docs(s, d), "doc_id", "text", k = 0.5)),

    // The composed hygiene pipeline a pre-training corpus actually
    // runs, end to end in ONE plan: quality gate → PII redaction →
    // corpus-wide paragraph dedup → exact keep-first — every stage an
    // already-oracled operator, the composition itself replayed by a
    // single DuckDB CTE chain (including the rebuilt-text md5).
    // Kneser-Ney smoothed twin of q_text_perplexity: the KenLM-grade
    // discounted-interpolation formula, fully replayed by DuckDB.
    "q_text_perplexity_kn" -> ((s, d) =>
      TextOps.lmPerplexityKN(docs(s, d), "doc_id", "text")),

    // ingestion normalization + compression-ratio signal: NFKC is not
    // SQL-replayable → rows-only golden; NormalizeSpec owns the
    // unicode fixtures and idempotence, CCNet-band sanity in spec.
    "q_text_normalize" -> ((s, d) =>
      docs(s, d).select(col("doc_id"),
        length(TextOps.normalizeText(col("text"))).cast("long").as("n_chars_norm"),
        xxhash64(TextOps.normalizeText(col("text"))).as("norm_hash"),
        TextOps.compressionRatio(col("text")).as("compr_ratio"))),

    // Aho-Corasick keyword tagging: one automaton pass per document
    // over a multi-pattern list — the blocklist/topic-tag primitive.
    // DuckDB replays substring counts per pattern (none of these
    // patterns self-overlaps, so overlap-inclusive AC counts equal
    // replace-based counts) → FULL oracle. The matched-pattern list
    // is joined to a ';'-delimited scalar (both sides emit sorted
    // pattern order) so the driver comparator can sort/hash the row.
    "q_text_keywords" -> ((s, d) => {
      val pats = Seq("hash", "join", "spark", "stream", "window")
      val tag = TextOps.keywordTag(col("text"), pats)
      docs(s, d).select(col("doc_id"),
        tag.getField("n_hits").as("n_hits"),
        array_join(tag.getField("matched"), ";").as("matched"))
    }),

    // order-3 Kneser-Ney: the full KenLM recursion with continuation
    // counts at the middle order — also fully replayed by DuckDB.
    "q_text_perplexity_kn3" -> ((s, d) =>
      TextOps.lmPerplexityKN3(docs(s, d), "doc_id", "text")),

    // end-to-end CURATION composition of this round's operators:
    // classifier gate (corpus-vs-corrupted fastText filter) → KN
    // description-length annotation → temperature-flattened language
    // mixture over the survivors → deterministic shuffle key for the
    // epoch order. Every stage is the already-verified operator; the
    // golden pins the composition (classifier scores make it
    // rows-only). One kn join + the rate broadcast are the only
    // non-map stages.
    "q_curation_e2e" -> ((s, d) => {
      val dd = docs(s, d)
      val corrupt = translate(col("text"), "aeiou", "xqzvk")
      val tr = dd.select(col("text"), lit(1).as("y"))
        .unionAll(dd.select(corrupt.as("text"), lit(0).as("y")))
      val w = Classifier.train(tr, "text", "y", dim = 1 << 15, iters = 30, lr = 4.0)
      val kn = TextOps.lmPerplexityKN(dd, "doc_id", "text")
      val gated = dd.select(col("doc_id"), col("lang"), col("text"),
          round(Classifier.score(col("text"), w), 2).as("clf"))
        .where(col("clf") > 0.5)
        .join(kn.select(col("doc_id"), col("kn_logppl")), Seq("doc_id"))
      val c = gated.groupBy(col("lang")).agg(count(lit(1)).as("n"))
      val mn = c.agg(min(col("n")).as("n_min"))
      val rates = c.crossJoin(broadcast(mn)).select(col("lang"),
        round(lit(1000.0) *
          pow(col("n_min").cast("double") / col("n"), 0.7), 6).as("rate"))
      gated.withColumn("bucket", TextOps.samplingBucket(col("text")))
        .join(broadcast(rates), Seq("lang"))
        .where(col("bucket").cast("double") < col("rate"))
        .select(col("doc_id"), col("lang"), col("clf"),
          round(col("kn_logppl"), 2).as("kn_bits"),
          pmod(graft.functions.TextHashFunctions.hex_slice_long(
            md5(concat(lit("cur1:"), col("doc_id").cast("string"))), 1),
            lit(1000000L)).as("shuffle_key"))
    }),

    "q_pipeline_e2e" -> ((s, d) => {
      val corpus = docs(s, d).select(col("doc_id"),
        when(col("doc_id") < 50, concat(col("text"),
          lit(" Contact jane.doe@example.com or 10.1.2.3 call 555-123-4567.")))
          .otherwise(col("text")).as("text"))
      val gated = corpus.where(TextOps.tokenCount(col("text")) >= 12)
      val red = gated.select(col("doc_id"),
        TextOps.piiRedact(col("text")).as("text"))
      val para = TextOps.paragraphDedup(red, "doc_id", "text", " table ")
        .where(col("kept_paras") > 0)
      Dedup.exactKeepFirst(para, "text_dedup", "doc_id")
        .select(col("doc_id"), md5(col("text_dedup").cast("binary")).as("text_md5"),
          col("kept_paras"), col("removed_paras"))
    }),

    // PII redaction: plant emails/IPs/phones into doc_id < 50, then
    // count + redact — one codegen projection over the corpus.
    "q_text_pii" -> ((s, d) => {
      val corpus = docs(s, d).select(col("doc_id"),
        when(col("doc_id") < 50, concat(col("text"),
          lit(" Contact jane.doe@example.com or 10.1.2.3 call 555-123-4567.")))
          .otherwise(col("text")).as("text"))
      corpus.select(
        col("doc_id"),
        TextOps.piiCount(col("text"), TextOps.piiEmailRe).as("n_emails"),
        TextOps.piiCount(col("text"), TextOps.piiIpv4Re).as("n_ips"),
        TextOps.piiCount(col("text"), TextOps.piiPhoneRe).as("n_phones"),
        TextOps.piiRedact(col("text")).as("redacted"))
    }),

    // Repetition filters (Gopher-style): duplicate-line fraction and
    // duplicate-bigram fraction; doc_id < 25 gets two planted copies
    // of its opening line so the signal is non-trivially exercised.
    // MAP-ONLY: total bigrams is arithmetic on the token count and
    // distinct bigrams is the size of the codegen shingle-hash kernel's
    // output — no gram strings, no shuffle, no interpreted HOF.
    "q_text_repetition" -> ((s, d) => {
      val corpus = docs(s, d).select(col("doc_id"),
        when(col("doc_id") < 25, concat(col("text"), lit("\n"),
          substring(col("text"), 1, 80), lit("\n"), substring(col("text"), 1, 80)))
          .otherwise(col("text")).as("text"))
      val total = TextOps.wordGramCount(col("text"), 2)
      val distinct = size(Dedup.shingleHashes(col("text"), 2)).cast("long")
      corpus.select(
        col("doc_id"),
        size(TextOps.lines(col("text"))).cast("long").as("n_lines"),
        round(TextOps.dupLineFrac(col("text")), 6).as("dup_line_frac"),
        round(when(total > 0,
          (total - distinct).cast("double") / total.cast("double"))
          .otherwise(lit(0.0)), 6).as("bigram_dup_frac"))
    }),

    // Eval-set decontamination: docs sharing an 8-gram with the
    // doc_id < 20 "benchmark"; five contaminated docs are planted by
    // pasting a benchmark fragment into fresh ids.
    "q_text_decontam" -> ((s, d) => {
      val all = docs(s, d)
      val evalSet = all.where(col("doc_id") < 20).select(col("doc_id"), col("text"))
      val corpus = all.where(col("doc_id") >= 20).select(col("doc_id"), col("text"))
        .unionByName(evalSet.where(col("doc_id") < 5).select(
          (col("doc_id") + 300000).as("doc_id"),
          concat(lit("unrelated preamble then "),
            substring(col("text"), 1, 200)).as("text")))
      Dedup.contaminated(corpus, evalSet, "text", "doc_id", n = 8)
        .orderBy(col("doc_id"))
    }),

    // FUZZY decontamination: corpus docs whose minhash signature
    // near-collides with a benchmark doc — catches lightly-edited
    // leakage the exact 8-gram overlap misses. Eight paraphrase-ish
    // copies of eval docs are planted. FULL oracle: the portable
    // hash family (md5 shingle hash + LCG permutations mod 2³¹−1)
    // replays every signature, band collision, and agreement count
    // bit-identically in DuckDB.
    "q_text_fuzzy_decontam" -> ((s, d) => {
      val all = docs(s, d)
      val evalSet = all.where(col("doc_id") < 20).select(col("doc_id"), col("text"))
      val corpus = all.where(col("doc_id") >= 20).select(col("doc_id"), col("text"))
        .unionByName(evalSet.where(col("doc_id") < 8).select(
          (col("doc_id") + 400000).as("doc_id"),
          concat(col("text"), lit(" lightly edited tail appended")).as("text")))
      Dedup.minhashContaminated(corpus, evalSet, "text", "doc_id",
        minEstJaccard = 0.5)
        .orderBy(col("doc_id"), col("eval_id"))
    }),

    // Deterministic stratified sampling: md5 content bucket per-mille
    // vs a per-source rate — reproducible on any engine, no RNG state.
    "q_sample_stratified" -> ((s, d) => {
      val rate = lit(100) + lit(40) *
        pmod(expr("CAST(substring(source, 4) AS INT)"), lit(10))
      docs(s, d)
        .select(col("doc_id"), col("source"),
          TextOps.samplingBucket(col("text")).as("bucket"), rate.as("rate"))
        .where(col("bucket") < col("rate"))
    }),

    // Gopher rule pack (Rae et al. 2021 A1.1): the published bounds as
    // one map-only projection. Planted rows exercise every rule: docs
    // <10 gain bullet lines, 10–19 ellipsis lines, 20–29 symbol runs.
    "q_text_gopher" -> ((s, d) => {
      val corpus = docs(s, d).select(col("doc_id"),
        when(col("doc_id") < 10,
          concat(col("text"), lit("\n- bullet one\n- bullet two\n- bullet three")))
          .when(col("doc_id") < 20,
            concat(col("text"), lit("\nto be continued...\nmore soon...")))
          .when(col("doc_id") < 30, concat(col("text"), lit(" ### ## #")))
          .otherwise(col("text")).as("text"))
      corpus.select(col("doc_id"),
        TextOps.tokenCount(col("text")).as("n_words"),
        round(TextOps.meanWordLen(col("text")), 6).as("mean_word_len"),
        round(TextOps.symbolWordRatio(col("text")), 6).as("symbol_ratio"),
        round(TextOps.bulletLineFrac(col("text")), 6).as("bullet_frac"),
        round(TextOps.ellipsisLineFrac(col("text")), 6).as("ellipsis_frac"),
        round(TextOps.alphaWordFrac(col("text")), 6).as("alpha_word_frac"),
        TextOps.stopwordHits(col("text")).as("stopword_hits"),
        TextOps.gopherKeep(col("text")).as("keep"))
    }),

    // Corpus-wide TF-IDF: the full (doc, term) weight table — one
    // postings explode, vocabulary-sized df aggregation, broadcast N.
    "q_text_tfidf" -> ((s, d) =>
      Search.tfidf(docs(s, d), "doc_id", "text")),

    // Okapi BM25 ranking for a 3-term query — postings pruned to the
    // broadcast query set before any shuffle.
    "q_search_bm25" -> ((s, d) =>
      Search.bm25(docs(s, d), "doc_id", "text",
        Seq("join", "window", "hash"))),

    // Reciprocal-rank-fusion hybrid retrieval: the bm25 query above
    // fused with a dense cosine ranking (query vector = embedding 0 —
    // a bounded single-row collect, replayable by DuckDB). Each side
    // reduces to a TakeOrdered pool first, so fusion never sorts the
    // corpus. FULL oracle: DuckDB replays both rankings and the
    // 1/(60+rank) sum exactly.
    "q_search_hybrid" -> ((s, d) => {
      val e = emb(s, d)
      val qv = e.where(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0)
      Search.hybridRrf(docs(s, d), "doc_id", "text",
        Seq("join", "window", "hash"), e, "vec_id", "embedding", qv)
    }),

    // retrieval-quality evaluation (TREC-style): brute-force cosine
    // top-10 runs for the first 10 vectors, judged-relevant = the
    // same-label corpus items; per-query recall@10 / MRR@10 / binary
    // nDCG@10. The run replays via list_cosine_similarity and the DCG
    // discounts are the same driver-inlined doubles → FULL oracle.
    "q_search_eval" -> ((s, d) => {
      val e = emb(s, d)
      val runs = Knn.bruteForceTopK(e.where(col("vec_id") < 10), e,
        "vec_id", "embedding", k = 10)
      val qs = e.where(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("label").as("ql"))
      val qrels = qs.join(
          e.select(col("vec_id").as("doc_id"), col("label")),
          col("label") === col("ql") && col("doc_id") =!= col("qid"))
        .select(col("qid"), col("doc_id"))
      Search.evalRetrieval(
        runs.select(col("q_id").as("qid"), col("n_id").as("doc_id"), col("rank")),
        qrels, k = 10).orderBy(col("qid"))
    }),

    // DSIR importance scoring (Xie et al. 2023): target = the English
    // slice, raw = everything; hashed-unigram log-likelihood ratio per
    // doc. Bucket weights are a 256-entry broadcast map literal, so
    // scoring is map-only — the md5-bucket construction lets DuckDB
    // replay the exact pipeline.
    "q_sample_dsir" -> ((s, d) =>
      TextOps.dsirScores(docs(s, d), docs(s, d).where(col("lang") === "en"),
        "doc_id", "text")),

    // Token-window chunking (context-window shaping / RAG chunker):
    // 64-token chunks every 48 tokens — overlapping, final chunks
    // short. Map-only; chunk identity is the md5 of the joined tokens.
    "q_text_chunk" -> ((s, d) =>
      TextOps.chunk(docs(s, d), "doc_id", "text", chunkTokens = 64, stride = 48)),

    // Mixture resampling toward a uniform per-source budget: sources
    // above the mean size are deterministically downsampled to it via
    // the content-md5 bucket (keep_rate = mean/n per mille); the rate
    // table is S rows and broadcasts. The static DoReMi-style
    // reweighting step.
    "q_sample_mixture" -> ((s, d) => {
      val c = docs(s, d).groupBy(col("source")).agg(count(lit(1)).as("n"))
      val m = c.agg(avg(col("n").cast("double")).as("mean_n"))
      val rates = c.crossJoin(broadcast(m))
        .select(col("source"),
          least(lit(1000.0), lit(1000.0) * col("mean_n") / col("n")).as("rate"))
      docs(s, d)
        .select(col("doc_id"), col("source"),
          TextOps.samplingBucket(col("text")).as("bucket"))
        .join(broadcast(rates), Seq("source"))
        .where(col("bucket").cast("double") < col("rate"))
        .select(col("doc_id"), col("source"), col("bucket"))
    }),

    // temperature-flattened source mixture (the mT5/XLM-R multilingual
    // recipe — Xue et al. 2021 / Conneau et al. 2019: p(source) ∝ n^α,
    // α<1 boosting low-resource sources). Rendered as the largest
    // downsample-only realization: rate_s = (n_min/n_s)^(1-α), so the
    // smallest source keeps everything and larger sources flatten
    // toward it; the draw replays exactly from the content hash. The
    // rate table is one row per language and broadcasts (FULL oracle).
    "q_sample_temperature" -> ((s, d) => {
      val alpha = 0.3
      val c = docs(s, d).groupBy(col("lang")).agg(count(lit(1)).as("n"))
      val mn = c.agg(min(col("n")).as("n_min"))
      val rates = c.crossJoin(broadcast(mn))
        .select(col("lang"),
          round(lit(1000.0) *
            pow(col("n_min").cast("double") / col("n"), 1 - alpha), 6).as("rate"))
      docs(s, d)
        .select(col("doc_id"), col("lang"),
          TextOps.samplingBucket(col("text")).as("bucket"))
        .join(broadcast(rates), Seq("lang"))
        .where(col("bucket").cast("double") < col("rate"))
        .select(col("doc_id"), col("lang"), col("bucket"))
    }),

    // token-budget mixture selection: per source, greedily keep the
    // best-quality documents until HALF the source's token mass is
    // spent — the budgeted (token-denominated) realization of data
    // mixing; q_sample_mixture/q_sample_temperature are its row-based
    // companions. Budgets broadcast (one row per source); the corpus
    // shuffles once into the running-sum window. FULL oracle: the
    // greedy order is (round-6 quality desc, id) — a total order both
    // engines sort identically — and the running sum is BIGINT-exact.
    "q_sample_token_budget" -> ((s, d) => {
      val tok = docs(s, d).select(col("doc_id"), col("source"),
        TextOps.tokenCount(col("text")).as("n_tokens"),
        TextOps.qualityScore(col("text")).as("quality"))
      val budgets = tok.groupBy(col("source"))
        .agg(floor(sum(col("n_tokens")) / 2).cast("long").as("budget"))
      TextOps.tokenBudgetSample(tok, "doc_id", "source",
        "n_tokens", "quality", budgets)
    }),

    // embedding-diversity coreset: per LSH bucket (a pure function of
    // the vector — no trained state, bit-stable at any layout) keep
    // the k lowest-hash members. Downsampling that preserves coverage
    // of embedding space instead of density — the cluster-balanced
    // selection step of SemDeDup-style curation. One shuffle on the
    // bucket. FULL oracle: the xorshift hyperplane constants inline
    // into the SQL, and the left-assoc double dot product replays
    // bit-identically (IEEE arithmetic is order-deterministic).
    "q_sample_coreset" -> ((s, d) => {
      val planes = Knn.hyperplanes(bits = 6, dim = 64)
      val pri = pmod(graft.functions.TextHashFunctions.hex_slice_long(
        md5(col("vec_id").cast("string")), 1), lit(1000000L))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("bucket")).orderBy(col("pri"), col("vec_id"))
      emb(s, d)
        .select(col("vec_id"), Knn.lshBucket(col("embedding"), planes).as("bucket"),
          pri.as("pri"))
        .withColumn("rk", row_number().over(w))
        .where(col("rk") <= 8)
        .select(col("bucket"), col("rk").cast("long").as("rk"), col("vec_id"))
    }),

    // Corpus profile: per-source doc/token counts, quality and length
    // means, language spread — the summary an operator reads before
    // choosing mixture weights. One partial-agg'd shuffle on source.
    "q_corpus_stats" -> ((s, d) =>
      docs(s, d).groupBy(col("source")).agg(
        count(lit(1)).as("n_docs"),
        sum(TextOps.tokenCount(col("text"))).as("n_tokens"),
        round(avg(TextOps.qualityScore(col("text"))), 6).as("mean_quality"),
        round(avg(length(col("text")).cast("double")), 6).as("mean_chars"),
        countDistinct(col("lang")).as("n_langs"))),

    // Per-source quality quantiles (exact interpolated percentiles —
    // Spark's percentile ≡ SQL quantile_cont): the numbers an
    // operator reads to set a corpus-wide quality threshold. One
    // shuffle on source; exact percentile sorts within each group,
    // which is the semantic cost of exactness (approx_percentile is
    // the one-pass variant when 1% error is fine).
    "q_quality_quantiles" -> ((s, d) =>
      docs(s, d)
        .select(col("source"), TextOps.qualityScore(col("text")).as("q"))
        .groupBy(col("source")).agg(
          round(expr("percentile(q, 0.5)"), 6).as("p50"),
          round(expr("percentile(q, 0.9)"), 6).as("p90"),
          round(min(col("q")), 6).as("q_min"),
          round(max(col("q")), 6).as("q_max"))),

    // Class-balanced deterministic downsample: per language, the 40
    // docs with the smallest content-hash bucket (ties by id) — a
    // reproducible balanced subset with no RNG state. The rank
    // partitions by class, so with FEW classes each funnels one
    // reducer; at 100 TB pre-filter candidates by a generous bucket
    // ceiling (bucket < c·k·1000/n_class keeps the true top-k with
    // overwhelming probability and shrinks the ranked set to O(c·k))
    // before the exact rank — the filter is map-side and the
    // deterministic key makes the result identical.
    "q_sample_balanced" -> ((s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("lang"))
        .orderBy(col("bucket"), col("doc_id"))
      docs(s, d)
        .select(col("doc_id"), col("lang"),
          TextOps.samplingBucket(col("text")).as("bucket"))
        .withColumn("rk", row_number().over(w).cast("int"))
        .where(col("rk") <= 40)
    }),

    // URL extraction + domain blocklist filter (C4/RefinedWeb): plant
    // URLs into doc_id < 40, explode to (doc, url, domain, blocked).
    "q_text_urls" -> ((s, d) => {
      val corpus = docs(s, d).select(col("doc_id"),
        when(col("doc_id") < 40, concat(col("text"),
          lit(" see https://example.com/a/b or http://ads.spam-site.com/x?q=1 and https://sub.example.com:8080/path")))
          .otherwise(col("text")).as("text"))
      val u = corpus.select(col("doc_id"),
        explode(TextOps.urls(col("text"))).as("url"))
      u.select(col("doc_id"), col("url"),
        TextOps.urlDomain(col("url")).as("domain"))
        .withColumn("blocked",
          TextOps.domainBlocked(col("domain"), Seq("spam-site.com")))
    }),

    // Keep-BEST fuzzy dedup: minhash near-dup clusters, highest
    // quality score survives (the planted suffix copies score lower
    // than their originals, so originals win). FULL oracle: portable
    // minhash pairs replay in SQL, connected components replay as a
    // recursive min-label closure, rep selection as a window.
    "q_dedup_keepbest" -> ((s, d) => {
      val planted = withPlanted(docs(s, d))
      val scored = planted.select(col("doc_id"),
        round(TextOps.qualityScore(col("text")), 6).as("quality"))
      Dedup.keepBest(scored,
        Dedup.minhashPairs(planted, "text", "doc_id", minEstJaccard = 0.5)
          .select(col("a"), col("b")),
        "doc_id", "quality")
        .orderBy(col("id"))
    }),

    // Windowed exact-substring dedup (Lee et al. 2021): every 8-token
    // window keeps only its globally-first occurrence; covered tokens
    // are stripped and documents rebuilt. doc_id < 30 get a shared
    // 11-token phrase appended, so its interior windows repeat 30x and
    // 29 copies are removed mid-document.
    "q_text_substrdedup" -> ((s, d) => {
      val corpus = docs(s, d).select(col("doc_id"),
        when(col("doc_id") < 30, concat(col("text"),
          lit(" the shared boilerplate sentence that repeats across many documents verbatim here")))
          .otherwise(col("text")).as("text"))
      TextOps.windowDedup(corpus, "doc_id", "text", windowTokens = 8)
    }),

    // BPE vocabulary training (Sennrich 2016): one corpus pass for
    // word counts, merge loop on the capped vocab table. Rows-only
    // golden — the iterative trainer has no SQL formulation; BpeSpec
    // pins the merges against hand-computed algebra.
    "q_text_bpe" -> ((s, d) =>
      Bpe.train(docs(s, d), "text", numMerges = 24, maxVocab = 1000)),

    // BPE encoding with a FIXED rank-ordered merge list — the chain of
    // character-split + merge replacements is pure regex, so DuckDB
    // replays it exactly (full oracle). The list builds 'table'
    // hierarchically: t+a, l+e, ta+b, tab+le.
    "q_text_bpe_encode" -> ((s, d) => {
      val merges = Seq(("t", "a"), ("l", "e"), ("ta", "b"), ("tab", "le"))
      // codegen kernel; BpeSpec pins it identical to Bpe.encode's
      // regex-chain reference
      val enc = graft.functions.BpeFunctions.bpe_encode(col("text"), merges)
      docs(s, d).select(col("doc_id"),
        size(enc).cast("long").as("n_subwords"),
        size(filter(enc, t => t === "table")).cast("long").as("n_table"))
    }),

    // Sequence packing: shard the corpus, then greedily pack documents
    // into 2048-token bins by running token count — the batch-shaping
    // step before tokenizer/trainer handoff. Window is PER SHARD, so
    // packing parallelizes across the cluster (no global sort).
    "q_pack_sequences" -> ((s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("shard")).orderBy(col("doc_id"))
      docs(s, d)
        .select(col("doc_id"), pmod(col("doc_id"), lit(32)).as("shard"),
          TextOps.tokenCount(col("text")).as("n_tokens"))
        .withColumn("bin",
          floor((sum(col("n_tokens")).over(w) - col("n_tokens")) / lit(2048)))
        .select(col("doc_id"), col("shard"), col("n_tokens"), col("bin"))
    })
  )

  /** VALUES-table literal of the portable-minhash LCG coefficients —
    * the oracle permutes with EXACTLY the kernel's constants
    * (TextHashing.portableSeeds), inlined at SQL-build time.
    */
  private def portableSeedsValues(k: Int): String =
    graft.functions.TextHashing.portableSeeds(k).zipWithIndex
      .map { case ((a, b), i) => s"($i, $a, $b)" }.mkString(", ")

  /** DuckDB replay of TextHashing.portableMinhashSig (n=3, k=32) over
    * a relation `rel(id, text)`: a CTE chain suffixed `tag` ending in
    * sv$tag(id, sv) where sv is the 32-element signature list.
    * Shingle-less docs produce no rows (they match nothing — the
    * sentinel-signature filter on the Spark side).
    */
  private def portableSigCtes(rel: String, tag: String): String =
    s"""tok$tag AS (SELECT id, list_filter(string_split_regex(lower(text), '\\s+'),
       |    x -> len(x) > 0) AS toks FROM $rel),
       |sh$tag AS (SELECT id, unnest(list_transform(range(1, len(toks) - 1),
       |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS s FROM tok$tag),
       |h$tag AS (SELECT id, ('0x' || substr(md5(s), 1, 15))::BIGINT % 2147483647 AS hb
       |  FROM sh$tag),
       |sig$tag AS (SELECT id, i, min((a * hb + b) % 2147483647) AS v
       |  FROM h$tag CROSS JOIN (VALUES ${portableSeedsValues(32)}) AS seeds(i, a, b)
       |  GROUP BY id, i),
       |sv$tag AS (SELECT id, array_agg(v ORDER BY i) AS sv FROM sig$tag GROUP BY id)""".stripMargin

  /** DuckDB replay of [[Dedup.minhashPairs]]' candidate
    * pipeline over the sv$tag signature CTE (k=32, 16 bands of 2 rows,
    * buckets sorted and capped at 64 ids): ends in cand$tag(a, b, est)
    * with est the unrounded agreement fraction, filtered at $minEst.
    */
  private def portablePairCtes(tag: String, minEst: Double): String =
    s"""bk$tag AS (SELECT id, j AS band, sv[2*j-1] AS v1, sv[2*j] AS v2
       |  FROM sv$tag CROSS JOIN (VALUES (1),(2),(3),(4),(5),(6),(7),(8),
       |    (9),(10),(11),(12),(13),(14),(15),(16)) AS bands$tag(j)),
       |g$tag AS (SELECT band, v1, v2, list_slice(list_sort(array_agg(id)), 1, 64) AS ids
       |  FROM bk$tag GROUP BY band, v1, v2 HAVING count(*) > 1),
       |e1$tag AS (SELECT band, v1, v2, unnest(ids) AS id FROM g$tag),
       |prs$tag AS (SELECT DISTINCT x.id AS a, y.id AS b
       |  FROM e1$tag x JOIN e1$tag y
       |  ON x.band = y.band AND x.v1 = y.v1 AND x.v2 = y.v2 AND x.id < y.id),
       |cand$tag AS (SELECT p.a, p.b,
       |    len(list_filter(range(1, 33), i -> sa.sv[i] = sb.sv[i])) / 32.0 AS est
       |  FROM prs$tag p
       |  JOIN sv$tag sa ON sa.id = p.a JOIN sv$tag sb ON sb.id = p.b
       |  WHERE len(list_filter(range(1, 33), i -> sa.sv[i] = sb.sv[i])) / 32.0 >= $minEst)""".stripMargin

  /** DCG discount VALUES rows (rank, 1/log₂(rank+1)) — THE SAME
    * doubles [[Search.evalRetrieval]] inlines into the Spark plan
    * (Double.toString round-trips exactly, so DuckDB parses back the
    * identical bit pattern — no cross-engine transcendental trust).
    */
  private def discValues(k: Int): String =
    (1 to k).map(r => s"($r, ${1.0 / (math.log(r + 1.0) / math.log(2.0))})")
      .mkString(", ")

  /** The planted near-dup corpus ([[withPlanted]]) as a CTE body:
    * documents plus a suffixed copy of doc_id < 25 at +100000. */
  private val plantedCorpusSql: String =
    """corpus AS (
      |  SELECT doc_id AS id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 100000, text || ' appended near duplicate suffix'
      |  FROM documents WHERE doc_id < 25)""".stripMargin

  /** Hyperplane dot products as explicit left-associated sums with
    * the xorshift-generated constants inlined — double arithmetic is
    * IEEE-deterministic, so DuckDB's evaluation order (left-assoc
    * chain, float element promoted to double) reproduces the
    * LshBucketExpr kernel's loop bit-for-bit. One `$prefix$i` column
    * per plane.
    */
  private def planeDots(planes: Array[Array[Double]], prefix: String): String =
    planes.zipWithIndex.map { case (p, i) =>
      "(" + p.zipWithIndex.map { case (c, j) =>
        s"embedding[${j + 1}]*($c)"
      }.mkString(" + ") + s") AS $prefix$i"
    }.mkString(",\n  ")

  /** Sign-bit bucket from the `$prefix$i` dot columns (bit i set iff
    * dot_i >= 0) — the SQL twin of VectorKernels.lshBucket.
    */
  private def bucketExpr(prefix: String, bits: Int): String =
    (0 until bits).map(i =>
      s"(CASE WHEN $prefix$i >= 0 THEN ${1L << i} ELSE 0 END)").mkString(" + ")

  private def coresetDots: String =
    planeDots(graft.operators.Knn.hyperplanes(bits = 6, dim = 64), "d")

  val oracle: Map[String, String] = Map(
    "q_text_langid" -> {
      val hitCols = graft.operators.TextOps.stopwords.toSeq.sortBy(_._1)
        .map { case (lang, words) =>
          val lst = words.map(w => s"'$w'").mkString(", ")
          s"len(list_filter(toks, x -> list_contains([$lst], x))) AS h_$lang"
        }.mkString(",\n  ")
      // the kernel scans languages in sorted order taking >= — the
      // LAST max wins, so the CASE checks lexicographically-greatest
      // first; 'und' only when no language hits at all
      s"""WITH t AS (SELECT doc_id,
         |  list_filter(string_split_regex(lower(text), '\\s+'), x -> len(x) > 0) AS toks
         |  FROM documents),
         |h AS (SELECT doc_id, toks,
         |  $hitCols
         |  FROM t),
         |m AS (SELECT *, greatest(h_de, h_en, h_es, h_fr, h_zh) AS mx FROM h)
         |SELECT doc_id,
         |  CASE WHEN mx = 0 THEN 'und'
         |       WHEN h_zh = mx THEN 'zh'
         |       WHEN h_fr = mx THEN 'fr'
         |       WHEN h_es = mx THEN 'es'
         |       WHEN h_en = mx THEN 'en'
         |       ELSE 'de' END AS lang_pred,
         |  round(CASE WHEN len(toks) > 0
         |    THEN h_en / CAST(len(toks) AS DOUBLE) ELSE 0.0 END, 6) AS en_ratio
         |FROM m""".stripMargin
    },
    "q_text_fingerprint" -> {
      // min-sampled portable fingerprint: per-doc minimum of the
      // md5-derived shingle base hashes (the portable family's h₀),
      // whole-text h₀ fallback for docs shorter than one shingle —
      // exactly TextHashing.portableFingerprintMin at n=5 and n=8
      def shingleExpr(n: Int): String =
        (0 until n).map(j => if (j == 0) "toks[i]" else s"toks[i+$j]")
          .mkString(" || ' ' || ")
      def fpCtes(n: Int, tag: String): String =
        s"""sh$tag AS (SELECT id, unnest(list_transform(range(1, len(toks) - ${n - 2}),
           |    i -> ${shingleExpr(n)})) AS s FROM tok),
           |f$tag AS (SELECT id,
           |  min(('0x' || substr(md5(s), 1, 15))::BIGINT % 2147483647) AS fp
           |  FROM sh$tag GROUP BY id)""".stripMargin
      s"""WITH tok AS (SELECT doc_id AS id, text,
         |  list_filter(string_split_regex(lower(text), '\\s+'), x -> len(x) > 0) AS toks
         |  FROM documents),
         |${fpCtes(5, "5")},
         |${fpCtes(8, "8")}
         |SELECT t.id AS doc_id,
         |  coalesce(f5.fp, ('0x' || substr(md5(t.text), 1, 15))::BIGINT % 2147483647) AS fp,
         |  coalesce(f8.fp, ('0x' || substr(md5(t.text), 1, 15))::BIGINT % 2147483647) AS fp8
         |FROM tok t LEFT JOIN f5 ON f5.id = t.id LEFT JOIN f8 ON f8.id = t.id""".stripMargin
    },
    "q_knn_lsh" -> {
      // the four tables' plane constants inline (seed + 7919·t — the
      // exact lshTopK derivation); bucket arithmetic and the 5-dp
      // cosine replay are both engine-exact
      val dots = (0 until 4).map(t => planeDots(
        graft.operators.Knn.hyperplanes(bits = 6, dim = 64, seed = 42L + 7919L * t),
        s"d${t}_")).mkString(",\n  ")
      val buckets = (0 until 4).map(t =>
        s"(${bucketExpr(s"d${t}_", 6)}) AS bkt$t").mkString(",\n  ")
      s"""WITH d AS (SELECT vec_id, embedding, $dots FROM embeddings),
         |b AS (SELECT vec_id, embedding, $buckets FROM d),
         |c AS (SELECT t.tbl,
         |  CASE t.tbl WHEN 0 THEN bkt0 WHEN 1 THEN bkt1 WHEN 2 THEN bkt2 ELSE bkt3 END AS bucket,
         |  vec_id AS n_id FROM b CROSS JOIN (VALUES (0),(1),(2),(3)) AS t(tbl)),
         |q AS (SELECT b.vec_id AS q_id, t.tbl,
         |  unnest([CASE t.tbl WHEN 0 THEN bkt0 WHEN 1 THEN bkt1 WHEN 2 THEN bkt2 ELSE bkt3 END,
         |    xor(CASE t.tbl WHEN 0 THEN bkt0 WHEN 1 THEN bkt1 WHEN 2 THEN bkt2 ELSE bkt3 END, 1)]) AS bucket
         |  FROM b CROSS JOIN (VALUES (0),(1),(2),(3)) AS t(tbl)
         |  WHERE b.vec_id < 10),
         |j AS (SELECT DISTINCT q.q_id, c.n_id
         |  FROM c JOIN q ON c.tbl = q.tbl AND c.bucket = q.bucket
         |  WHERE q.q_id <> c.n_id),
         |scored AS (SELECT j.q_id, j.n_id,
         |  round(list_cosine_similarity(CAST(qe.embedding AS DOUBLE[]),
         |    CAST(ne.embedding AS DOUBLE[])), 5) AS cos
         |  FROM j JOIN embeddings qe ON qe.vec_id = j.q_id
         |         JOIN embeddings ne ON ne.vec_id = j.n_id)
         |SELECT q_id, n_id, cos, rank FROM (
         |  SELECT *, CAST(row_number() OVER (PARTITION BY q_id
         |    ORDER BY cos DESC, n_id) AS INT) AS rank FROM scored)
         |WHERE rank <= 10""".stripMargin
    },
    "q_knn_recall" -> {
      // one 8-bit signature (seed 42); prefix-b candidates = same
      // high-b bits = integer division of the bucket — the SQL twin
      // of recallCurve's shiftright
      val dots = planeDots(
        graft.operators.Knn.hyperplanes(bits = 8, dim = 64, seed = 42L), "r")
      val bkt = (0 until 8).map(i =>
        s"(CASE WHEN r$i >= 0 THEN ${1L << i} ELSE 0 END)").mkString(" + ")
      val levels = Seq(2, 4, 6, 8)
      val lvlCtes = levels.map { b =>
        val div = 1L << (8 - b)
        s"""lvl$b AS (
           |  SELECT q.vec_id AS q_id, c.vec_id AS n_id,
           |    round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
           |      CAST(c.embedding AS DOUBLE[])), 5) AS cos,
           |    count(*) OVER (PARTITION BY q.vec_id) AS n_cand
           |  FROM bt q JOIN bt c ON (q.bkt // $div) = (c.bkt // $div)
           |  WHERE q.vec_id < 10 AND q.vec_id <> c.vec_id),
           |top$b AS (SELECT * FROM (
           |    SELECT *, row_number() OVER (PARTITION BY q_id
           |      ORDER BY cos DESC, n_id) AS rnk FROM lvl$b) WHERE rnk <= 10),
           |perq$b AS (SELECT t.q_id, max(t.n_cand) AS n_cand,
           |    sum(CASE WHEN tr.n_id IS NOT NULL THEN 1 ELSE 0 END) AS hits
           |  FROM top$b t LEFT JOIN truth tr
           |    ON tr.q_id = t.q_id AND tr.n_id = t.n_id
           |  GROUP BY t.q_id),
           |agg$b AS (SELECT $b AS prefix_bits,
           |    CAST(count(*) AS BIGINT) AS n_queries,
           |    round(avg(coalesce(p.n_cand, 0)), 6) AS avg_candidates,
           |    round(avg(coalesce(p.hits, 0) / 10.0), 6) AS mean_recall
           |  FROM qids q LEFT JOIN perq$b p ON p.q_id = q.q_id)""".stripMargin
      }.mkString(",\n")
      s"""WITH d AS (SELECT vec_id, embedding, $dots FROM embeddings),
         |bt AS (SELECT vec_id, embedding, ($bkt) AS bkt FROM d),
         |truth AS (SELECT q_id, n_id FROM (
         |  SELECT q.vec_id AS q_id, c.vec_id AS n_id,
         |    row_number() OVER (PARTITION BY q.vec_id ORDER BY
         |      round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
         |        CAST(c.embedding AS DOUBLE[])), 5) DESC, c.vec_id) AS rnk
         |  FROM embeddings q CROSS JOIN embeddings c
         |  WHERE q.vec_id < 10 AND q.vec_id <> c.vec_id) WHERE rnk <= 10),
         |qids AS (SELECT vec_id AS q_id FROM embeddings WHERE vec_id < 10),
         |$lvlCtes
         |SELECT * FROM agg2 UNION ALL SELECT * FROM agg4
         |UNION ALL SELECT * FROM agg6 UNION ALL SELECT * FROM agg8
         |ORDER BY prefix_bits""".stripMargin
    },
    "q_text_fuzzy_decontam" ->
      s"""WITH base AS (SELECT doc_id, text FROM documents),
         |ev AS (SELECT doc_id AS id, text FROM base WHERE doc_id < 20),
         |corpus AS (
         |  SELECT doc_id AS id, text FROM base WHERE doc_id >= 20
         |  UNION ALL
         |  SELECT id + 400000, text || ' lightly edited tail appended'
         |  FROM ev WHERE id < 8),
         |${portableSigCtes("corpus", "c")},
         |${portableSigCtes("ev", "e")}
         |SELECT c.id AS doc_id, e.id AS eval_id,
         |  round(len(list_filter(range(1, 33), i -> c.sv[i] = e.sv[i])) / 32.0, 5)
         |    AS est_jaccard
         |FROM svc c CROSS JOIN sve e
         |WHERE len(list_filter(range(1, 17),
         |    j -> c.sv[2*j-1] = e.sv[2*j-1] AND c.sv[2*j] = e.sv[2*j])) > 0
         |  AND len(list_filter(range(1, 33), i -> c.sv[i] = e.sv[i])) / 32.0 >= 0.5
         |ORDER BY doc_id, eval_id""".stripMargin,
    "q_dedup_minhash" ->
      s"""WITH $plantedCorpusSql,
         |${portableSigCtes("corpus", "c")},
         |${portablePairCtes("c", 0.5)}
         |SELECT a, b, round(est, 5) AS est_jaccard FROM candc
         |ORDER BY a, b""".stripMargin,
    "q_dedup_jaccard" ->
      s"""WITH $plantedCorpusSql,
         |${portableSigCtes("corpus", "c")},
         |${portablePairCtes("c", 0.3)},
         |jset AS (SELECT id, list_distinct(array_agg(s)) AS sh FROM shc GROUP BY id),
         |jv AS (SELECT p.a, p.b,
         |    len(list_intersect(sa.sh, sb.sh)) * 1.0 /
         |      (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))) AS jac
         |  FROM candc p JOIN jset sa ON sa.id = p.a JOIN jset sb ON sb.id = p.b)
         |SELECT a, b, round(jac, 4) AS jaccard FROM jv WHERE jac >= 0.5
         |ORDER BY a, b""".stripMargin,
    "q_dedup_cluster" ->
      s"""WITH RECURSIVE $plantedCorpusSql,
         |${portableSigCtes("corpus", "c")},
         |${portablePairCtes("c", 0.5)},
         |edges AS (SELECT a AS src, b AS dst FROM candc
         |  UNION SELECT b, a FROM candc),
         |walk(node, m) AS (
         |  SELECT src, dst FROM edges
         |  UNION
         |  SELECT w.node, e.dst FROM walk w JOIN edges e ON w.m = e.src)
         |SELECT node AS id, min(m) AS cluster FROM walk GROUP BY node
         |ORDER BY id""".stripMargin,
    "q_dedup_simhash" ->
      s"""WITH $plantedCorpusSql,
         |tk AS (SELECT id, list_filter(string_split_regex(lower(text), '\\s+'),
         |    x -> len(x) > 0) AS toks FROM corpus),
         |th AS (SELECT id, ('0x' || substr(md5(t.t), 1, 16))::UBIGINT AS h
         |  FROM tk, unnest(toks) AS t(t) WHERE len(toks) > 0),
         |bits AS (SELECT id, i,
         |    CASE WHEN sum(CASE WHEN (h >> i) & 1 = 1 THEN 1 ELSE -1 END) > 0
         |      THEN 1 ELSE 0 END AS b
         |  FROM th CROSS JOIN range(0, 64) r(i) GROUP BY id, i),
         |sv AS (SELECT id, array_agg(b ORDER BY i) AS bv FROM bits GROUP BY id),
         |ck AS (SELECT id, j AS chunk,
         |    list_sum(list_transform(range(1, 17), t -> bv[16*j+t] * (1::BIGINT << (t-1)))) AS cv
         |  FROM sv CROSS JOIN (VALUES (0),(1),(2),(3)) AS cj(j)),
         |g AS (SELECT chunk, cv, list_slice(list_sort(array_agg(id)), 1, 64) AS ids
         |  FROM ck GROUP BY chunk, cv HAVING count(*) > 1),
         |e1 AS (SELECT chunk, cv, unnest(ids) AS id FROM g),
         |prs AS (SELECT DISTINCT x.id AS a, y.id AS b
         |  FROM e1 x JOIN e1 y
         |  ON x.chunk = y.chunk AND x.cv = y.cv AND x.id < y.id),
         |ham AS (SELECT p.a, p.b,
         |    len(list_filter(range(1, 65), i -> sa.bv[i] <> sb.bv[i])) AS hm
         |  FROM prs p JOIN sv sa ON sa.id = p.a JOIN sv sb ON sb.id = p.b)
         |SELECT a, b, CAST(hm AS INT) AS hamming FROM ham WHERE hm <= 3
         |ORDER BY a, b""".stripMargin,
    "q_dedup_keepbest" ->
      s"""WITH RECURSIVE $plantedCorpusSql,
         |qt AS (SELECT id, text,
         |  list_filter(string_split_regex(lower(text), '\\s+'), x -> len(x) > 0) AS toks
         |  FROM corpus),
         |scored AS (SELECT id, ${qualitySql} AS score FROM qt),
         |${portableSigCtes("corpus", "c")},
         |${portablePairCtes("c", 0.5)},
         |edges AS (SELECT a AS src, b AS dst FROM candc
         |  UNION SELECT b, a FROM candc),
         |walk(node, m) AS (
         |  SELECT src, dst FROM edges
         |  UNION
         |  SELECT w.node, e.dst FROM walk w JOIN edges e ON w.m = e.src),
         |lbl AS (SELECT node AS id, min(m) AS cluster FROM walk GROUP BY node)
         |SELECT s.id, coalesce(l.cluster, s.id) AS cluster, s.score,
         |  row_number() OVER (PARTITION BY coalesce(l.cluster, s.id)
         |    ORDER BY s.score DESC, s.id) = 1 AS keep
         |FROM scored s LEFT JOIN lbl l USING (id)
         |ORDER BY id""".stripMargin,
    "q_sample_coreset" ->
      s"""WITH d AS (SELECT vec_id, $coresetDots FROM embeddings),
         |b AS (SELECT vec_id,
         |  (CASE WHEN d0 >= 0 THEN 1 ELSE 0 END) + (CASE WHEN d1 >= 0 THEN 2 ELSE 0 END)
         |  + (CASE WHEN d2 >= 0 THEN 4 ELSE 0 END) + (CASE WHEN d3 >= 0 THEN 8 ELSE 0 END)
         |  + (CASE WHEN d4 >= 0 THEN 16 ELSE 0 END) + (CASE WHEN d5 >= 0 THEN 32 ELSE 0 END)
         |    AS bucket,
         |  ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8))::BIGINT % 1000000 AS pri
         |  FROM d),
         |r AS (SELECT bucket, vec_id, pri,
         |  row_number() OVER (PARTITION BY bucket ORDER BY pri, vec_id) AS rk FROM b)
         |SELECT CAST(bucket AS BIGINT) AS bucket, CAST(rk AS BIGINT) AS rk, vec_id
         |FROM r WHERE rk <= 8""".stripMargin,
    "q_corpus_diff" ->
      """WITH v1 AS (SELECT doc_id AS id, text FROM documents),
        |v2 AS (
        |  SELECT id, CASE WHEN id % 5 = 0 THEN text || ' [edited]' ELSE text END AS text
        |  FROM v1 WHERE id % 7 <> 0
        |  UNION ALL
        |  SELECT id + 900000, text FROM v1 WHERE id < 15)
        |SELECT coalesce(a.id, b.id) AS id,
        |  CASE WHEN a.id IS NULL THEN 'added'
        |       WHEN b.id IS NULL THEN 'removed'
        |       WHEN a.text <> b.text THEN 'changed'
        |       ELSE 'unchanged' END AS status
        |FROM v1 a FULL OUTER JOIN v2 b ON a.id = b.id
        |ORDER BY id""".stripMargin,
    "q_corpus_drift" ->
      raw"""WITH tok1 AS (SELECT unnest(list_filter(
        |    string_split_regex(lower(text), '\s+'), x -> len(x) > 0)) AS token
        |  FROM documents WHERE doc_id % 3 <> 0),
        |tok2 AS (SELECT unnest(list_filter(
        |    string_split_regex(lower(text), '\s+'), x -> len(x) > 0)) AS token
        |  FROM documents WHERE doc_id % 3 <> 1),
        |c1 AS (SELECT token, CAST(count(*) AS BIGINT) AS n1 FROM tok1 GROUP BY token),
        |c2 AS (SELECT token, CAST(count(*) AS BIGINT) AS n2 FROM tok2 GROUP BY token),
        |t1 AS (SELECT coalesce(sum(n1), 0) AS t1 FROM c1),
        |t2 AS (SELECT coalesce(sum(n2), 0) AS t2 FROM c2),
        |j AS (SELECT coalesce(c1.token, c2.token) AS token,
        |    coalesce(n1, 0) AS n1, coalesce(n2, 0) AS n2
        |  FROM c1 FULL OUTER JOIN c2 ON c1.token = c2.token),
        |x AS (SELECT token, n1, n2,
        |    n1 / CAST(greatest(t1, 1) AS DOUBLE) AS p,
        |    n2 / CAST(greatest(t2, 1) AS DOUBLE) AS q,
        |    abs(CAST(n1 AS HUGEINT) * t2 - CAST(n2 AS HUGEINT) * t1) AS rnk
        |  FROM j CROSS JOIN t1 CROSS JOIN t2)
        |SELECT token, n1, n2, round(p, 8) AS p1, round(q, 8) AS p2,
        |  round(q - p, 8) AS delta,
        |  round(CASE WHEN p > 0 THEN p * ln(p / ((p + q) / 2)) / 2 ELSE 0 END
        |      + CASE WHEN q > 0 THEN q * ln(q / ((p + q) / 2)) / 2 ELSE 0 END,
        |    8) AS js_part
        |FROM x ORDER BY rnk DESC, token LIMIT 30""".stripMargin,
    "q_refresh_e2e" ->
      """WITH v1 AS (SELECT doc_id AS id, text FROM documents),
        |v2 AS (
        |  SELECT id, CASE WHEN id % 5 = 0 THEN text || ' [edited]' ELSE text END AS text
        |  FROM v1 WHERE id % 7 <> 0
        |  UNION ALL
        |  SELECT id + 900000, text FROM v1 WHERE id < 15
        |  UNION ALL
        |  SELECT id + 800000,
        |    CASE WHEN id % 3 = 0 THEN 'tiny new doc'
        |         ELSE text || ' fresh crawl content for the monthly refresh' END
        |  FROM v1 WHERE id >= 15 AND id < 30),
        |diff AS (SELECT coalesce(a.id, b.id) AS id,
        |  CASE WHEN a.id IS NULL THEN 'added'
        |       WHEN b.id IS NULL THEN 'removed'
        |       WHEN a.text <> b.text THEN 'changed'
        |       ELSE 'unchanged' END AS status
        |  FROM v1 a FULL OUTER JOIN v2 b ON a.id = b.id),
        |cand AS (SELECT v2.id, v2.text FROM v2
        |  JOIN diff ON diff.id = v2.id AND diff.status IN ('added', 'changed')),
        |gated AS (SELECT * FROM cand
        |  WHERE len(list_filter(string_split_regex(lower(text), '\s+'),
        |        x -> len(x) > 0)) >= 12),
        |fresh AS (SELECT g.id, g.text FROM gated g
        |  WHERE NOT EXISTS (SELECT 1 FROM v1 WHERE v1.text = g.text)),
        |carried AS (SELECT v1.id, v1.text FROM v1
        |  WHERE v1.id NOT IN (SELECT id FROM diff
        |                      WHERE status IN ('removed', 'changed'))),
        |merged AS (
        |  SELECT id, text, 'carried' AS origin FROM carried
        |  UNION ALL
        |  SELECT id, text, 'refreshed' AS origin FROM fresh)
        |SELECT id AS doc_id, origin,
        |  ('0x' || substr(md5(text), 1, 8))::BIGINT % 8 AS shard,
        |  md5(text) AS text_md5
        |FROM merged""".stripMargin,
    "q_search_eval" ->
      s"""WITH q AS (SELECT vec_id AS q_id, embedding AS q_vec FROM embeddings WHERE vec_id < 10),
         |sims AS (
         |  SELECT q.q_id AS qid, c.vec_id AS doc_id,
         |    round(list_cosine_similarity(CAST(q.q_vec AS DOUBLE[]),
         |      CAST(c.embedding AS DOUBLE[])), 5) AS cos
         |  FROM q CROSS JOIN embeddings c WHERE q.q_id <> c.vec_id),
         |run AS (
         |  SELECT qid, doc_id, rank FROM (
         |    SELECT qid, doc_id,
         |      CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, doc_id) AS INT) AS rank
         |    FROM sims) WHERE rank <= 10),
         |qrels AS (SELECT ql.vec_id AS qid, e.vec_id AS doc_id
         |  FROM embeddings ql JOIN embeddings e
         |    ON e.label = ql.label AND e.vec_id <> ql.vec_id
         |  WHERE ql.vec_id < 10),
         |disc(r, dv) AS (VALUES ${discValues(10)}),
         |pq AS (SELECT qid, count(*) AS n_rel FROM qrels GROUP BY qid),
         |pqi AS (SELECT qid, n_rel,
         |    (SELECT sum(dv) FROM disc WHERE r <= least(n_rel, 10)) AS idcg
         |  FROM pq),
         |h AS (SELECT r.qid,
         |    count(qr.doc_id) AS hits,
         |    min(CASE WHEN qr.doc_id IS NOT NULL THEN r.rank END) AS first_rel,
         |    sum(CASE WHEN qr.doc_id IS NOT NULL THEN d.dv ELSE 0.0::DOUBLE END) AS dcg
         |  FROM run r
         |  LEFT JOIN qrels qr ON qr.qid = r.qid AND qr.doc_id = r.doc_id
         |  JOIN disc d ON d.r = r.rank
         |  GROUP BY r.qid)
         |SELECT coalesce(p.qid, h.qid) AS qid,
         |  coalesce(p.n_rel, 0) AS n_rel,
         |  coalesce(h.hits, 0) AS hits,
         |  round(CASE WHEN p.n_rel IS NULL OR p.n_rel = 0 THEN 0.0::DOUBLE
         |    ELSE coalesce(h.hits, 0) * 1.0::DOUBLE / p.n_rel END, 6) AS recall,
         |  round(coalesce(1.0::DOUBLE / h.first_rel, 0.0::DOUBLE), 6) AS mrr,
         |  round(CASE WHEN p.idcg IS NULL OR p.idcg = 0.0 THEN 0.0::DOUBLE
         |    ELSE coalesce(h.dcg, 0.0::DOUBLE) / p.idcg END, 6) AS ndcg
         |FROM pqi p FULL OUTER JOIN h ON h.qid = p.qid
         |ORDER BY qid""".stripMargin,
    "q_dedup_exact" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 100000, text || ' appended near duplicate suffix'
        |  FROM documents WHERE doc_id < 25
        |  UNION ALL
        |  SELECT doc_id + 200000, text FROM documents WHERE doc_id < 10)
        |SELECT sha256(text) AS content_hash, min(doc_id) AS keep_id,
        |  count(*) AS n_copies
        |FROM corpus GROUP BY 1""".stripMargin,
    "q_dedup_bloom" ->
      """WITH corpus AS (SELECT text FROM documents WHERE doc_id % 10 <> 0),
        |batch AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0
        |  UNION ALL
        |  SELECT doc_id + 300000, text FROM documents
        |  WHERE doc_id % 10 = 1 AND doc_id < 50)
        |SELECT b.doc_id FROM batch b
        |WHERE NOT EXISTS (SELECT 1 FROM corpus c WHERE c.text = b.text)""".stripMargin,
    "q_text_quality" ->
      raw"""WITH t AS (SELECT doc_id, text,
        |    list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS toks
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(length(text) AS BIGINT) AS n_chars_v,
        |  CAST(len(toks) AS BIGINT) AS n_tokens,
        |  round((length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')))
        |    / greatest(length(text), 1), 6) AS punct_ratio,
        |  round(length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
        |    / greatest(length(text), 1), 6) AS alpha_ratio,
        |  round(CASE WHEN len(toks) > 0
        |    THEN list_sum(list_transform(toks, x -> len(x))) / CAST(len(toks) AS DOUBLE)
        |    ELSE 0.0 END, 6) AS mean_word_len,
        |  round(CASE WHEN len(toks) > 0
        |    THEN len(list_filter(toks, x -> list_contains(
        |      ['the','a','of','and','to','in','is','it','that','for'], x)))
        |      / CAST(len(toks) AS DOUBLE) ELSE 0.0 END, 6) AS stopword_ratio,
        |  ${qualitySql} AS quality
        |FROM t""".stripMargin,
    "q_quality_prcurve" ->
      raw"""WITH t AS (SELECT doc_id, text,
        |    list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS toks
        |  FROM documents),
        |s AS (SELECT ${qualitySql} AS score,
        |  CASE WHEN (CASE WHEN len(toks) > 0
        |    THEN len(list_filter(toks, x -> list_contains(
        |      ['the','a','of','and','to','in','is','it','that','for'], x)))
        |      / CAST(len(toks) AS DOUBLE) ELSE 0.0 END) > 0.08
        |    THEN 1 ELSE 0 END AS y
        |  FROM t),
        |b AS (SELECT CAST(least(floor(score * 20), 19) AS INT) AS bucket,
        |    count(*) AS n, sum(y) AS pos FROM s GROUP BY 1),
        |th AS (SELECT CAST(range AS INT) AS i FROM range(0, 20)),
        |cum AS (SELECT i, CAST(coalesce(sum(n), 0) AS BIGINT) AS pred_pos,
        |    CAST(coalesce(sum(pos), 0) AS BIGINT) AS tp
        |  FROM th LEFT JOIN b ON b.bucket >= th.i GROUP BY i),
        |tot AS (SELECT CAST(coalesce(sum(pos), 0) AS BIGINT) AS p_all FROM b),
        |pr AS (SELECT i, pred_pos, tp,
        |    CASE WHEN pred_pos > 0 THEN tp / CAST(pred_pos AS DOUBLE) ELSE 1.0 END AS p,
        |    CASE WHEN p_all > 0 THEN tp / CAST(p_all AS DOUBLE) ELSE 0.0 END AS r
        |  FROM cum CROSS JOIN tot)
        |SELECT round(i / 20.0, 6) AS threshold, pred_pos, tp,
        |  round(p, 6) AS "precision", round(r, 6) AS recall,
        |  round(CASE WHEN p + r > 0 THEN 2.0 * p * r / (p + r) ELSE 0.0 END, 6) AS f1
        |FROM pr""".stripMargin,
    "q_quality_calibration" ->
      raw"""WITH t AS (SELECT doc_id, text,
        |    list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS toks
        |  FROM documents),
        |s AS (SELECT ${qualitySql} AS score,
        |  CASE WHEN (CASE WHEN len(toks) > 0
        |    THEN len(list_filter(toks, x -> list_contains(
        |      ['the','a','of','and','to','in','is','it','that','for'], x)))
        |      / CAST(len(toks) AS DOUBLE) ELSE 0.0 END) > 0.08
        |    THEN 1 ELSE 0 END AS y
        |  FROM t),
        |g AS (SELECT CAST(greatest(least(floor(score * 10), 9), 0) AS INT) AS bin,
        |    CAST(count(*) AS BIGINT) AS n,
        |    round(avg(score), 6) AS mean_score,
        |    round(avg(y), 6) AS frac_pos
        |  FROM s GROUP BY 1)
        |SELECT round(bin / 10.0, 6) AS bin_lo, n, mean_score, frac_pos,
        |  round(abs(mean_score - frac_pos), 6) AS gap
        |FROM g""".stripMargin,
    "q_sample_token_budget" ->
      raw"""WITH t AS (SELECT doc_id, source, text,
        |    list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS toks
        |  FROM documents),
        |s AS (SELECT doc_id, source,
        |    CAST(len(toks) AS BIGINT) AS n_tokens,
        |    ${qualitySql} AS quality
        |  FROM t),
        |b AS (SELECT source, CAST(floor(sum(n_tokens) / 2) AS BIGINT) AS budget
        |  FROM s GROUP BY 1),
        |c AS (SELECT s.doc_id, s.source, s.n_tokens, s.quality, b.budget,
        |    CAST(sum(s.n_tokens) OVER (PARTITION BY s.source
        |      ORDER BY s.quality DESC, s.doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
        |  FROM s JOIN b ON b.source = s.source)
        |SELECT doc_id, source, n_tokens, quality, cum_tokens
        |FROM c WHERE cum_tokens <= budget""".stripMargin,
    "q_quality_auc" ->
      raw"""WITH t AS (SELECT source, text,
        |    list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS toks
        |  FROM documents),
        |s AS (SELECT source, ${qualitySql} AS score,
        |  CASE WHEN (CASE WHEN len(toks) > 0
        |    THEN len(list_filter(toks, x -> list_contains(
        |      ['the','a','of','and','to','in','is','it','that','for'], x)))
        |      / CAST(len(toks) AS DOUBLE) ELSE 0.0 END) > 0.08
        |    THEN 1 ELSE 0 END AS y
        |  FROM t),
        |r AS (SELECT source, y,
        |    rank() OVER (PARTITION BY source ORDER BY score) AS rmin,
        |    count(*) OVER (PARTITION BY source, score) AS ties
        |  FROM s),
        |a AS (SELECT source, y, rmin + (ties - 1) / 2.0 AS ar FROM r)
        |SELECT source,
        |  CAST(sum(y) AS BIGINT) AS n_pos,
        |  CAST(count(*) - sum(y) AS BIGINT) AS n_neg,
        |  round(CASE WHEN sum(y) > 0 AND count(*) - sum(y) > 0
        |    THEN (sum(CASE WHEN y = 1 THEN ar END)
        |          - CAST(sum(y) AS DOUBLE) * (sum(y) + 1) / 2.0)
        |      / (CAST(sum(y) AS DOUBLE) * (count(*) - sum(y)))
        |    END, 6) AS auc
        |FROM a GROUP BY source""".stripMargin,
    "q_split_assign" ->
      """WITH a AS (SELECT
        |  CASE WHEN b < 800000 THEN 'train'
        |       WHEN b < 900000 THEN 'val'
        |       ELSE 'test' END AS split, lang
        |  FROM (SELECT ('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
        |          % 1000000 AS b, lang
        |        FROM documents))
        |SELECT split, lang, count(*) AS n_docs FROM a GROUP BY 1, 2""".stripMargin,
    "q_text_tokens" ->
      """SELECT doc_id,
        |  CAST(len(list_filter(string_split_regex(lower(text), '\s+'),
        |    x -> len(x) > 0)) AS BIGINT) AS ws_tokens,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]+'))
        |    AS BIGINT) AS bpe_tokens
        |FROM documents""".stripMargin,
    "q_dedup_semantic" ->
      """WITH planted AS (
        |  SELECT vec_id, embedding FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 100000, embedding FROM embeddings WHERE vec_id < 20
        |  UNION ALL
        |  SELECT vec_id + 200000, embedding FROM embeddings WHERE vec_id < 20
        |),
        |pairs AS (
        |  SELECT a.vec_id AS rep_id, b.vec_id AS id,
        |    round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |      CAST(b.embedding AS DOUBLE[])), 5) AS cos
        |  FROM planted a JOIN planted b ON a.vec_id < b.vec_id
        |  WHERE round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |    CAST(b.embedding AS DOUBLE[])), 5) >= 0.95
        |)
        |SELECT id, min(rep_id) AS rep_id, arg_min(cos, rep_id) AS cos
        |FROM pairs GROUP BY id""".stripMargin,
    "q_dedup_embed" ->
      """SELECT a.vec_id AS a, b.vec_id AS b,
        |  round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |    CAST(b.embedding AS DOUBLE[])), 5) AS cos
        |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |WHERE a.vec_id < 300 AND b.vec_id < 300
        |  AND round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |    CAST(b.embedding AS DOUBLE[])), 5) >= 0.3""".stripMargin,
    "q_pipeline_e2e" ->
      """WITH corpus AS (SELECT doc_id,
        |  CASE WHEN doc_id < 50 THEN text ||
        |    ' Contact jane.doe@example.com or 10.1.2.3 call 555-123-4567.'
        |  ELSE text END AS text FROM documents),
        |gated AS (SELECT doc_id, text FROM corpus
        |  WHERE len(list_filter(string_split_regex(lower(text), '\s+'),
        |        x -> len(x) > 0)) >= 12),
        |red AS (SELECT doc_id,
        |  regexp_replace(regexp_replace(regexp_replace(text,
        |    '\b\d{3}-\d{3}-\d{4}\b', '<PHONE>', 'g'),
        |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g')
        |    AS text FROM gated),
        |p AS (SELECT doc_id, i - 1 AS pos, arr[i] AS para
        |  FROM (SELECT doc_id, string_split(coalesce(text, ''), ' table ') AS arr
        |        FROM red),
        |       LATERAL unnest(generate_series(1, len(arr))) AS t(i)),
        |r AS (SELECT doc_id, pos, para,
        |        row_number() OVER (PARTITION BY para ORDER BY doc_id, pos) AS rn
        |      FROM p),
        |reb AS (SELECT doc_id,
        |  coalesce(string_agg(para, ' table ' ORDER BY pos)
        |    FILTER (WHERE rn = 1), '') AS text_dedup,
        |  CAST(count(*) FILTER (WHERE rn = 1) AS BIGINT) AS kept_paras,
        |  CAST(count(*) FILTER (WHERE rn > 1) AS BIGINT) AS removed_paras
        |  FROM r GROUP BY doc_id),
        |keep AS (SELECT *, row_number() OVER
        |    (PARTITION BY text_dedup ORDER BY doc_id) AS krn
        |  FROM reb WHERE kept_paras > 0)
        |SELECT doc_id, md5(text_dedup) AS text_md5, kept_paras, removed_paras
        |FROM keep WHERE krn = 1""".stripMargin,
    "q_text_perplexity" ->
      """WITH toks AS (
        |  SELECT doc_id, i - 1 AS pos, arr[i] AS w
        |  FROM (SELECT doc_id,
        |          list_filter(string_split(lower(text), ' '),
        |                      x -> len(x) > 0) AS arr
        |        FROM documents),
        |       LATERAL unnest(generate_series(1, len(arr))) AS t(i)
        |),
        |big AS (
        |  SELECT a.doc_id, a.w AS w1, b.w AS w2
        |  FROM toks a JOIN toks b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
        |),
        |uni AS (SELECT w AS w1, count(*) AS c1 FROM toks GROUP BY w),
        |bi AS (SELECT w1, w2, count(*) AS c2 FROM big GROUP BY w1, w2),
        |v AS (SELECT count(DISTINCT w) AS vs FROM toks)
        |SELECT big.doc_id,
        |  round(avg(-ln((bi.c2 + 0.5) / (uni.c1 + 0.5 * v.vs))), 4) AS logppl,
        |  count(*) AS n_bigrams
        |FROM big JOIN bi USING (w1, w2) JOIN uni USING (w1) CROSS JOIN v
        |GROUP BY big.doc_id""".stripMargin,
    "q_text_keywords" ->
      """WITH d AS (SELECT doc_id, lower(text) AS t FROM documents),
        |o AS (SELECT doc_id,
        |  (length(t) - length(replace(t, 'hash', ''))) / 4 AS o_hash,
        |  (length(t) - length(replace(t, 'join', ''))) / 4 AS o_join,
        |  (length(t) - length(replace(t, 'spark', ''))) / 5 AS o_spark,
        |  (length(t) - length(replace(t, 'stream', ''))) / 6 AS o_stream,
        |  (length(t) - length(replace(t, 'window', ''))) / 6 AS o_window
        | FROM d)
        |SELECT doc_id,
        |  CAST(o_hash + o_join + o_spark + o_stream + o_window AS BIGINT) AS n_hits,
        |  coalesce(array_to_string(
        |    list_filter(['hash', 'join', 'spark', 'stream', 'window'],
        |      p -> CASE p WHEN 'hash' THEN o_hash WHEN 'join' THEN o_join
        |           WHEN 'spark' THEN o_spark WHEN 'stream' THEN o_stream
        |           ELSE o_window END > 0), ';'), '') AS matched
        |FROM o""".stripMargin,
    "q_text_perplexity_kn" ->
      """WITH toks AS (
        |  SELECT doc_id, i - 1 AS pos, arr[i] AS w
        |  FROM (SELECT doc_id,
        |          list_filter(string_split(lower(text), ' '),
        |                      x -> len(x) > 0) AS arr
        |        FROM documents),
        |       LATERAL unnest(generate_series(1, len(arr))) AS t(i)
        |),
        |big AS (
        |  SELECT a.doc_id, a.w AS w1, b.w AS w2
        |  FROM toks a JOIN toks b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
        |),
        |uni AS (SELECT w AS w1, count(*) AS c1 FROM toks GROUP BY w),
        |bi AS (SELECT w1, w2, count(*) AS c2 FROM big GROUP BY w1, w2),
        |cont AS (SELECT w1, count(*) AS n1p FROM bi GROUP BY w1),
        |hist AS (SELECT w2, count(*) AS n1m FROM bi GROUP BY w2),
        |ty AS (SELECT count(*) AS nt FROM bi),
        |v AS (SELECT count(*) AS vs FROM uni)
        |SELECT big.doc_id,
        |  round(avg(-ln(least(0.999999,
        |    greatest(bi.c2 - 0.75, 0.0) / uni.c1
        |    + (0.75 * cont.n1p / uni.c1)
        |      * ((hist.n1m + 0.5) / (ty.nt + 0.5 * v.vs))))), 4) AS kn_logppl,
        |  count(*) AS n_bigrams
        |FROM big JOIN bi USING (w1, w2) JOIN uni USING (w1)
        |  JOIN cont USING (w1) JOIN hist USING (w2) CROSS JOIN ty CROSS JOIN v
        |GROUP BY big.doc_id""".stripMargin,
    "q_text_perplexity_kn3" ->
      """WITH toks AS (
        |  SELECT doc_id, i - 1 AS pos, arr[i] AS w
        |  FROM (SELECT doc_id,
        |          list_filter(string_split(lower(text), ' '),
        |                      x -> len(x) > 0) AS arr
        |        FROM documents),
        |       LATERAL unnest(generate_series(1, len(arr))) AS t(i)
        |),
        |tg AS (
        |  SELECT a.doc_id, a.w AS w1, b.w AS w2, c.w AS w3
        |  FROM toks a
        |  JOIN toks b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
        |  JOIN toks c ON a.doc_id = c.doc_id AND c.pos = a.pos + 2
        |),
        |tt AS (SELECT w1, w2, w3, count(*) AS c3 FROM tg GROUP BY 1, 2, 3),
        |bc AS (SELECT w1, w2, count(*) AS c2h FROM tg GROUP BY 1, 2),
        |ct AS (SELECT w1, w2, count(*) AS n1p_top FROM tt GROUP BY 1, 2),
        |mn AS (SELECT w2, w3, count(*) AS n1p_mid FROM tt GROUP BY 1, 2),
        |md AS (SELECT w2, count(*) AS n1p_mid_all FROM tt GROUP BY 1),
        |bt AS (SELECT DISTINCT a.w AS a, b.w AS b FROM toks a
        |  JOIN toks b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1),
        |cm AS (SELECT a AS w2, count(*) AS n1p_w2 FROM bt GROUP BY 1),
        |hs AS (SELECT b AS w3, count(*) AS n1m FROM bt GROUP BY 1),
        |ty AS (SELECT count(*) AS nt FROM bt),
        |v AS (SELECT count(DISTINCT w) AS vs FROM toks)
        |SELECT tg.doc_id,
        |  round(avg(-ln(least(0.999999,
        |    greatest(tt.c3 - 0.75, 0.0) / bc.c2h
        |    + (0.75 * ct.n1p_top / bc.c2h) * (
        |        greatest(mn.n1p_mid - 0.75, 0.0) / md.n1p_mid_all
        |        + (0.75 * cm.n1p_w2 / md.n1p_mid_all)
        |          * ((hs.n1m + 0.5) / (ty.nt + 0.5 * v.vs)))))), 4) AS kn3_logppl,
        |  count(*) AS n_trigrams
        |FROM tg JOIN tt USING (w1, w2, w3) JOIN bc USING (w1, w2)
        |  JOIN ct USING (w1, w2) JOIN mn USING (w2, w3) JOIN md USING (w2)
        |  JOIN cm USING (w2) JOIN hs USING (w3) CROSS JOIN ty CROSS JOIN v
        |GROUP BY tg.doc_id""".stripMargin,
    "q_text_paradedup" ->
      """WITH p AS (
        |  SELECT doc_id, i - 1 AS pos, arr[i] AS para
        |  FROM (SELECT doc_id, string_split(coalesce(text, ''), ' table ') AS arr
        |        FROM documents),
        |       LATERAL unnest(generate_series(1, len(arr))) AS t(i)
        |),
        |r AS (SELECT doc_id, pos, para,
        |        row_number() OVER (PARTITION BY para ORDER BY doc_id, pos) AS rn
        |      FROM p)
        |SELECT doc_id,
        |  coalesce(string_agg(para, ' table ' ORDER BY pos)
        |    FILTER (WHERE rn = 1), '') AS text_dedup,
        |  CAST(count(*) FILTER (WHERE rn = 1) AS BIGINT) AS kept_paras,
        |  CAST(count(*) FILTER (WHERE rn > 1) AS BIGINT) AS removed_paras
        |FROM r GROUP BY doc_id""".stripMargin,
    "q_text_boilerplate" ->
      """WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |           FROM documents),
        |bp AS (SELECT term FROM t GROUP BY term
        |       HAVING count(DISTINCT doc_id) >=
        |         ceil(0.5 * (SELECT count(*) FROM documents)))
        |SELECT t.doc_id,
        |  CAST(sum(CASE WHEN bp.term IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS removed_terms,
        |  CAST(sum(CASE WHEN bp.term IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS kept_terms,
        |  CAST(sum(CASE WHEN bp.term IS NULL THEN length(t.term) ELSE 0 END) AS BIGINT)
        |    AS kept_chars
        |FROM t LEFT JOIN bp ON t.term = bp.term
        |GROUP BY t.doc_id""".stripMargin,
    "q_text_pii" ->
      """WITH corpus AS (SELECT doc_id,
        |  CASE WHEN doc_id < 50 THEN text ||
        |    ' Contact jane.doe@example.com or 10.1.2.3 call 555-123-4567.'
        |  ELSE text END AS text FROM documents)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
        |  CAST(len(regexp_extract_all(text,
        |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT) AS n_ips,
        |  CAST(len(regexp_extract_all(text, '\b\d{3}-\d{3}-\d{4}\b')) AS BIGINT) AS n_phones,
        |  regexp_replace(regexp_replace(regexp_replace(text,
        |    '\b\d{3}-\d{3}-\d{4}\b', '<PHONE>', 'g'),
        |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS redacted
        |FROM corpus""".stripMargin,
    "q_text_repetition" ->
      """WITH corpus AS (SELECT doc_id,
        |  CASE WHEN doc_id < 25 THEN text || chr(10) || substr(text, 1, 80)
        |    || chr(10) || substr(text, 1, 80)
        |  ELSE text END AS text FROM documents),
        |t AS (SELECT doc_id,
        |  list_filter(string_split(text, chr(10)), l -> len(trim(l)) > 0) AS ls,
        |  list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS toks
        |  FROM corpus),
        |g AS (SELECT doc_id, ls,
        |  list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1]) AS gs
        |  FROM t)
        |SELECT doc_id,
        |  CAST(len(ls) AS BIGINT) AS n_lines,
        |  round(CASE WHEN len(ls) > 0
        |    THEN (len(ls) - len(list_distinct(ls))) / CAST(len(ls) AS DOUBLE)
        |    ELSE 0.0 END, 6) AS dup_line_frac,
        |  round(CASE WHEN len(gs) > 0
        |    THEN (len(gs) - len(list_distinct(gs))) / CAST(len(gs) AS DOUBLE)
        |    ELSE 0.0 END, 6) AS bigram_dup_frac
        |FROM g""".stripMargin,
    "q_text_decontam" ->
      """WITH base AS (SELECT doc_id, text FROM documents),
        |ev AS (SELECT doc_id, text FROM base WHERE doc_id < 20),
        |corpus AS (
        |  SELECT doc_id, text FROM base WHERE doc_id >= 20
        |  UNION ALL
        |  SELECT doc_id + 300000, 'unrelated preamble then ' || substr(text, 1, 200)
        |  FROM ev WHERE doc_id < 5),
        |tok AS (SELECT doc_id,
        |  list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS toks
        |  FROM corpus),
        |cg AS (SELECT doc_id, unnest(list_distinct(
        |    list_transform(range(1, len(toks) - 6), i -> array_to_string(toks[i:i+7], ' '))
        |  )) AS g FROM tok),
        |etok AS (SELECT
        |  list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS toks
        |  FROM ev),
        |eg AS (SELECT DISTINCT unnest(
        |    list_transform(range(1, len(toks) - 6), i -> array_to_string(toks[i:i+7], ' '))
        |  ) AS g FROM etok)
        |SELECT cg.doc_id, count(*) AS n_shared
        |FROM cg JOIN eg ON cg.g = eg.g
        |GROUP BY cg.doc_id ORDER BY cg.doc_id""".stripMargin,
    "q_sample_stratified" ->
      """SELECT doc_id, source,
        |  ('0x' || substr(md5(text), 1, 8))::BIGINT % 1000 AS bucket,
        |  100 + 40 * (CAST(substr(source, 4) AS INT) % 10) AS rate
        |FROM documents
        |WHERE ('0x' || substr(md5(text), 1, 8))::BIGINT % 1000
        |  < 100 + 40 * (CAST(substr(source, 4) AS INT) % 10)""".stripMargin,
    "q_pack_sequences" ->
      """WITH t AS (SELECT doc_id, doc_id % 32 AS shard,
        |  CAST(len(list_filter(string_split_regex(lower(text), '\s+'),
        |    x -> len(x) > 0)) AS BIGINT) AS n_tokens
        |  FROM documents)
        |SELECT doc_id, shard, n_tokens,
        |  CAST(floor((sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
        |    ROWS UNBOUNDED PRECEDING) - n_tokens) / 2048) AS BIGINT) AS bin
        |FROM t""".stripMargin,
    "q_text_gopher" ->
      """WITH corpus AS (SELECT doc_id,
        |  CASE WHEN doc_id < 10 THEN text || chr(10) || '- bullet one'
        |         || chr(10) || '- bullet two' || chr(10) || '- bullet three'
        |       WHEN doc_id < 20 THEN text || chr(10) || 'to be continued...'
        |         || chr(10) || 'more soon...'
        |       WHEN doc_id < 30 THEN text || ' ### ## #'
        |       ELSE text END AS text FROM documents),
        |t AS (SELECT doc_id, text,
        |  list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS toks,
        |  list_filter(string_split(text, chr(10)), l -> len(trim(l)) > 0) AS ls
        |  FROM corpus),
        |m AS (SELECT doc_id,
        |  CAST(len(toks) AS BIGINT) AS n_words,
        |  CASE WHEN len(toks) > 0 THEN list_sum(list_transform(toks, x -> len(x)))
        |    / CAST(len(toks) AS DOUBLE) ELSE 0.0 END AS mwl,
        |  len(regexp_extract_all(text, '#|\.\.\.')) / greatest(len(toks), 1) AS sym,
        |  CASE WHEN len(ls) > 0 THEN len(list_filter(ls,
        |      l -> substr(ltrim(l), 1, 1) IN ('-', '*', '•')))
        |    / CAST(len(ls) AS DOUBLE) ELSE 0.0 END AS bul,
        |  CASE WHEN len(ls) > 0 THEN len(list_filter(ls,
        |      l -> regexp_matches(rtrim(l), '(\.\.\.|…)$')))
        |    / CAST(len(ls) AS DOUBLE) ELSE 0.0 END AS ell,
        |  CASE WHEN len(toks) > 0 THEN len(list_filter(toks,
        |      x -> regexp_matches(x, '[a-z]')))
        |    / CAST(len(toks) AS DOUBLE) ELSE 0.0 END AS awf,
        |  CAST(len(list_filter(list_distinct(toks), x -> list_contains(
        |    ['the','a','of','and','to','in','is','it','that','for'], x))) AS BIGINT)
        |    AS stop_hits
        |  FROM t)
        |SELECT doc_id, n_words,
        |  round(mwl, 6) AS mean_word_len,
        |  round(sym, 6) AS symbol_ratio,
        |  round(bul, 6) AS bullet_frac,
        |  round(ell, 6) AS ellipsis_frac,
        |  round(awf, 6) AS alpha_word_frac,
        |  stop_hits AS stopword_hits,
        |  (n_words BETWEEN 50 AND 100000) AND (mwl BETWEEN 3.0 AND 10.0)
        |    AND sym <= 0.1 AND bul <= 0.9 AND ell <= 0.3 AND awf >= 0.8
        |    AND stop_hits >= 2 AS keep
        |FROM m""".stripMargin,
    "q_text_tfidf" ->
      """WITH tok AS (SELECT doc_id,
        |  unnest(list_filter(string_split_regex(lower(text), '\s+'),
        |    x -> len(x) > 0)) AS term FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
        |df AS (SELECT term, count(DISTINCT doc_id) AS df FROM tok GROUP BY 1),
        |n AS (SELECT count(*) AS n_docs FROM documents)
        |SELECT tf.doc_id, tf.term, tf.tf, df.df,
        |  round(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df), 6) AS tfidf
        |FROM tf JOIN df USING (term) CROSS JOIN n""".stripMargin,
    "q_search_bm25" ->
      """WITH toks AS (SELECT doc_id,
        |  list_filter(string_split_regex(lower(text), '\s+'),
        |    x -> len(x) > 0) AS ts FROM documents),
        |stats AS (SELECT count(*) AS n_docs,
        |  avg(CAST(len(ts) AS DOUBLE)) AS avgdl FROM toks),
        |m AS (SELECT doc_id, CAST(len(ts) AS DOUBLE) AS dl, unnest(ts) AS term
        |  FROM toks),
        |mq AS (SELECT * FROM m WHERE term IN ('join', 'window', 'hash')),
        |df AS (SELECT term, count(DISTINCT doc_id) AS df FROM mq GROUP BY 1),
        |tf AS (SELECT doc_id, term, count(*) AS tf, min(dl) AS dl
        |  FROM mq GROUP BY 1, 2)
        |SELECT tf.doc_id,
        |  round(sum(ln(1.0 + (stats.n_docs - df.df + 0.5) / (df.df + 0.5))
        |    * (tf.tf * 2.2)
        |    / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl / stats.avgdl))), 4) AS bm25,
        |  count(*) AS n_terms_hit
        |FROM tf JOIN df USING (term) CROSS JOIN stats
        |GROUP BY tf.doc_id""".stripMargin,
    "q_search_hybrid" ->
      """WITH toks AS (SELECT doc_id,
        |  list_filter(string_split_regex(lower(text), '\s+'),
        |    x -> len(x) > 0) AS ts FROM documents),
        |stats AS (SELECT count(*) AS n_docs,
        |  avg(CAST(len(ts) AS DOUBLE)) AS avgdl FROM toks),
        |m AS (SELECT doc_id, CAST(len(ts) AS DOUBLE) AS dl, unnest(ts) AS term
        |  FROM toks),
        |mq AS (SELECT * FROM m WHERE term IN ('join', 'window', 'hash')),
        |df AS (SELECT term, count(DISTINCT doc_id) AS df FROM mq GROUP BY 1),
        |tf AS (SELECT doc_id, term, count(*) AS tf, min(dl) AS dl
        |  FROM mq GROUP BY 1, 2),
        |bm AS (SELECT tf.doc_id,
        |  round(sum(ln(1.0 + (stats.n_docs - df.df + 0.5) / (df.df + 0.5))
        |    * (tf.tf * 2.2)
        |    / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl / stats.avgdl))), 4) AS bm25
        |  FROM tf JOIN df USING (term) CROSS JOIN stats GROUP BY tf.doc_id),
        |lexpool AS (SELECT doc_id, lex_rank FROM (
        |  SELECT doc_id, CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id) AS INT)
        |    AS lex_rank FROM bm) WHERE lex_rank <= 100),
        |q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
        |dense AS (SELECT vec_id AS doc_id,
        |  round(list_cosine_similarity(CAST(embedding AS DOUBLE[]),
        |    (SELECT CAST(qv AS DOUBLE[]) FROM q)), 5) AS cos FROM embeddings),
        |densepool AS (SELECT doc_id, dense_rank FROM (
        |  SELECT doc_id, CAST(row_number() OVER (ORDER BY cos DESC, doc_id) AS INT)
        |    AS dense_rank FROM dense) WHERE dense_rank <= 100)
        |SELECT coalesce(l.doc_id, d.doc_id) AS doc_id, l.lex_rank, d.dense_rank,
        |  round(coalesce(1.0/(60 + l.lex_rank), 0) + coalesce(1.0/(60 + d.dense_rank), 0), 6) AS rrf
        |FROM lexpool l FULL JOIN densepool d ON l.doc_id = d.doc_id
        |ORDER BY rrf DESC, doc_id LIMIT 20""".stripMargin,
    "q_text_langscores" ->
      """WITH t AS (SELECT doc_id,
        |  list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS toks
        |  FROM documents)
        |SELECT doc_id,
        |  round(CASE WHEN len(toks) > 0 THEN len(list_filter(toks, x -> list_contains(
        |    ['der','die','das','und','ist','nicht','ein','ich','mit','im'], x)))
        |    / CAST(len(toks) AS DOUBLE) ELSE 0.0 END, 6) AS r_de,
        |  round(CASE WHEN len(toks) > 0 THEN len(list_filter(toks, x -> list_contains(
        |    ['the','a','of','and','to','in','is','it','that','for'], x)))
        |    / CAST(len(toks) AS DOUBLE) ELSE 0.0 END, 6) AS r_en,
        |  round(CASE WHEN len(toks) > 0 THEN len(list_filter(toks, x -> list_contains(
        |    ['el','la','de','que','y','en','un','es','por','los'], x)))
        |    / CAST(len(toks) AS DOUBLE) ELSE 0.0 END, 6) AS r_es,
        |  round(CASE WHEN len(toks) > 0 THEN len(list_filter(toks, x -> list_contains(
        |    ['le','la','de','et','est','un','une','les','dans','que'], x)))
        |    / CAST(len(toks) AS DOUBLE) ELSE 0.0 END, 6) AS r_fr,
        |  round(CASE WHEN len(toks) > 0 THEN len(list_filter(toks, x -> list_contains(
        |    ['的','是','了','在','我','有','和','不','这','他'], x)))
        |    / CAST(len(toks) AS DOUBLE) ELSE 0.0 END, 6) AS r_zh
        |FROM t""".stripMargin,
    "q_text_chunk" ->
      """WITH t AS (SELECT doc_id,
        |  list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS ts
        |  FROM documents),
        |c AS (SELECT doc_id, ts, unnest(generate_series(0,
        |    greatest(0, least(len(ts) - 1, len(ts) - 64 + 48 - 1)), 48)) AS start
        |  FROM t WHERE len(ts) > 0)
        |SELECT doc_id,
        |  CAST(start / 48 AS INT) AS chunk_id,
        |  CAST(start AS INT) AS start,
        |  CAST(len(list_slice(ts, start + 1, least(start + 64, len(ts)))) AS BIGINT)
        |    AS n_chunk_tokens,
        |  md5(array_to_string(list_slice(ts, start + 1, least(start + 64, len(ts))), ' '))
        |    AS chunk_md5
        |FROM c""".stripMargin,
    "q_sample_mixture" ->
      """WITH c AS (SELECT source, count(*) AS n FROM documents GROUP BY 1),
        |m AS (SELECT avg(CAST(n AS DOUBLE)) AS mean_n FROM c),
        |r AS (SELECT c.source,
        |  least(1000.0, 1000.0 * m.mean_n / c.n) AS rate FROM c CROSS JOIN m)
        |SELECT d.doc_id, d.source,
        |  ('0x' || substr(md5(d.text), 1, 8))::BIGINT % 1000 AS bucket
        |FROM documents d JOIN r USING (source)
        |WHERE CAST(('0x' || substr(md5(d.text), 1, 8))::BIGINT % 1000 AS DOUBLE)
        |  < r.rate""".stripMargin,
    "q_sample_temperature" ->
      """WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY 1),
        |m AS (SELECT min(n) AS n_min FROM c),
        |r AS (SELECT c.lang,
        |  round(1000.0 * power(CAST(m.n_min AS DOUBLE) / c.n, 0.7), 6) AS rate
        |  FROM c CROSS JOIN m)
        |SELECT d.doc_id, d.lang,
        |  ('0x' || substr(md5(d.text), 1, 8))::BIGINT % 1000 AS bucket
        |FROM documents d JOIN r USING (lang)
        |WHERE CAST(('0x' || substr(md5(d.text), 1, 8))::BIGINT % 1000 AS DOUBLE)
        |  < r.rate""".stripMargin,
    "q_corpus_stats" ->
      raw"""WITH t AS (SELECT doc_id, source, lang, text,
        |  list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS toks
        |  FROM documents),
        |q AS (SELECT doc_id, source, lang, text, toks,
        |  ${qualitySql} AS quality
        |  FROM t)
        |SELECT source,
        |  count(*) AS n_docs,
        |  CAST(sum(len(toks)) AS BIGINT) AS n_tokens,
        |  round(avg(quality), 6) AS mean_quality,
        |  round(avg(CAST(length(text) AS DOUBLE)), 6) AS mean_chars,
        |  count(DISTINCT lang) AS n_langs
        |FROM q GROUP BY source""".stripMargin,
    "q_quality_quantiles" ->
      raw"""WITH t AS (SELECT doc_id, source, text,
        |  list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS toks
        |  FROM documents),
        |q AS (SELECT source,
        |  ${qualitySql} AS q
        |  FROM t)
        |SELECT source,
        |  round(quantile_cont(q, 0.5), 6) AS p50,
        |  round(quantile_cont(q, 0.9), 6) AS p90,
        |  round(min(q), 6) AS q_min,
        |  round(max(q), 6) AS q_max
        |FROM q GROUP BY source""".stripMargin,
    "q_sample_balanced" ->
      """WITH b AS (SELECT doc_id, lang,
        |  ('0x' || substr(md5(text), 1, 8))::BIGINT % 1000 AS bucket
        |  FROM documents),
        |r AS (SELECT doc_id, lang, bucket,
        |  CAST(row_number() OVER (PARTITION BY lang
        |    ORDER BY bucket, doc_id) AS INT) AS rk FROM b)
        |SELECT doc_id, lang, bucket, rk FROM r WHERE rk <= 40""".stripMargin,
    "q_text_urls" ->
      """WITH corpus AS (SELECT doc_id,
        |  CASE WHEN doc_id < 40 THEN text ||
        |    ' see https://example.com/a/b or http://ads.spam-site.com/x?q=1 and https://sub.example.com:8080/path'
        |  ELSE text END AS text FROM documents),
        |u AS (SELECT doc_id, unnest(regexp_extract_all(text,
        |  'https?://[A-Za-z0-9.-]+(?::[0-9]+)?(?:/[!-~]*)?')) AS url FROM corpus),
        |d AS (SELECT doc_id, url,
        |  regexp_extract(url, 'https?://([A-Za-z0-9.-]+)', 1) AS domain FROM u)
        |SELECT doc_id, url, domain,
        |  (domain = 'spam-site.com' OR suffix(domain, '.spam-site.com')) AS blocked
        |FROM d""".stripMargin,
    "q_text_substrdedup" ->
      """WITH corpus AS (SELECT doc_id,
        |  CASE WHEN doc_id < 30 THEN text ||
        |    ' the shared boilerplate sentence that repeats across many documents verbatim here'
        |  ELSE text END AS text FROM documents),
        |tok AS (SELECT doc_id, i - 1 AS pos, arr[i] AS w
        |  FROM (SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'),
        |          x -> len(x) > 0) AS arr FROM corpus),
        |       LATERAL unnest(generate_series(1, len(arr))) AS t(i)),
        |win AS (SELECT doc_id, pos,
        |  CASE WHEN len(wa) = 8 THEN md5(array_to_string(wa, ' ')) END AS key
        |  FROM (SELECT doc_id, pos, list(w) OVER (PARTITION BY doc_id ORDER BY pos
        |          ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS wa FROM tok)),
        |dup AS (SELECT doc_id, pos FROM (
        |  SELECT doc_id, pos, row_number() OVER (PARTITION BY key
        |    ORDER BY doc_id, pos) AS rn FROM win WHERE key IS NOT NULL)
        |  WHERE rn > 1),
        |rm AS (SELECT DISTINCT doc_id, rmpos FROM (
        |  SELECT doc_id, unnest(generate_series(pos, pos + 7)) AS rmpos FROM dup)),
        |kept AS (SELECT t.* FROM tok t WHERE NOT EXISTS (
        |  SELECT 1 FROM rm WHERE rm.doc_id = t.doc_id AND rm.rmpos = t.pos)),
        |reb AS (SELECT doc_id, string_agg(w, ' ' ORDER BY pos) AS text_dedup,
        |  CAST(count(*) AS BIGINT) AS kept_tokens FROM kept GROUP BY doc_id),
        |n AS (SELECT doc_id, CAST(len(list_filter(string_split_regex(lower(text), '\s+'),
        |    x -> len(x) > 0)) AS BIGINT) AS n_tokens FROM corpus)
        |SELECT n.doc_id, coalesce(reb.text_dedup, '') AS text_dedup,
        |  coalesce(reb.kept_tokens, 0) AS kept_tokens,
        |  n.n_tokens - coalesce(reb.kept_tokens, 0) AS removed_tokens
        |FROM n LEFT JOIN reb USING (doc_id)""".stripMargin,
    "q_text_bpe_encode" ->
      // RE2 has no lookarounds, so the oracle can't use Spark's
      // non-consuming boundary patterns. Instead every symbol is
      // wrapped in ITS OWN pair of spaces (double-space separators):
      // adjacent merge matches then share no characters, which makes
      // plain consuming left-to-right replacement exactly equal to
      // the lookaround semantics — including runs like 'tata'.
      """WITH t AS (SELECT doc_id,
        |  list_filter(string_split_regex(lower(text), '\s+'),
        |    x -> len(x) > 0) AS toks FROM documents),
        |e AS (SELECT doc_id, flatten(list_transform(toks, w ->
        |  list_filter(string_split(
        |    regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        |      ' ' || array_to_string(string_split(w, ''), '  ') || ' ',
        |      ' t  a ', ' ta ', 'g'),
        |      ' l  e ', ' le ', 'g'),
        |      ' ta  b ', ' tab ', 'g'),
        |      ' tab  le ', ' table ', 'g'), ' '),
        |    s -> len(s) > 0))) AS enc FROM t)
        |SELECT doc_id, CAST(len(enc) AS BIGINT) AS n_subwords,
        |  CAST(len(list_filter(enc, s -> s = 'table')) AS BIGINT) AS n_table
        |FROM e""".stripMargin,
    "q_sample_dsir" ->
      """WITH tok AS (SELECT doc_id, lang,
        |  unnest(list_filter(string_split_regex(lower(text), '\s+'),
        |    x -> len(x) > 0)) AS w FROM documents),
        |b AS (SELECT doc_id, lang,
        |  ('0x' || substr(md5(w), 1, 8))::BIGINT % 256 AS bk FROM tok),
        |tcnt AS (SELECT bk, count(*) AS c FROM b WHERE lang = 'en' GROUP BY 1),
        |rcnt AS (SELECT bk, count(*) AS c FROM b GROUP BY 1),
        |tot AS (SELECT (SELECT sum(c) FROM tcnt) AS tt,
        |        (SELECT sum(c) FROM rcnt) AS rt),
        |w AS (SELECT r.bk,
        |  ln(((coalesce(t.c, 0) + 0.5) / (tot.tt + 0.5 * 256))
        |   / ((r.c + 0.5) / (tot.rt + 0.5 * 256))) AS wt
        |  FROM rcnt r LEFT JOIN tcnt t USING (bk) CROSS JOIN tot),
        |s AS (SELECT b.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |  round(avg(w.wt), 4) + 0.0 AS dsir_logratio
        |  FROM b JOIN w USING (bk) GROUP BY b.doc_id)
        |SELECT d.doc_id, coalesce(s.n_tokens, 0) AS n_tokens,
        |  coalesce(s.dsir_logratio, 0.0) AS dsir_logratio
        |FROM documents d LEFT JOIN s USING (doc_id)""".stripMargin,
    "q_knn_hardneg" ->
      """WITH q AS (SELECT vec_id AS q_id, embedding AS q_vec, label AS q_label
        |           FROM embeddings WHERE vec_id < 50),
        |sims AS (
        |  SELECT q.q_id, c.vec_id AS n_id, (c.label = q.q_label) AS same,
        |    round(list_cosine_similarity(CAST(q.q_vec AS DOUBLE[]),
        |      CAST(c.embedding AS DOUBLE[])), 5) AS cos
        |  FROM q CROSS JOIN embeddings c WHERE q.q_id <> c.vec_id),
        |best AS (SELECT *, row_number() OVER (PARTITION BY q_id, same
        |  ORDER BY cos DESC, n_id) AS rk FROM sims)
        |SELECT p.q_id, p.n_id AS pos_id, p.cos AS pos_cos,
        |  n.n_id AS neg_id, n.cos AS neg_cos
        |FROM best p JOIN best n USING (q_id)
        |WHERE p.rk = 1 AND p.same AND n.rk = 1 AND NOT n.same""".stripMargin,
    "q_knn_bitext" ->
      """WITH src AS (SELECT vec_id AS s_id, embedding AS sv FROM embeddings WHERE vec_id < 100),
        |tgt AS (SELECT vec_id AS t_id, embedding AS tv FROM embeddings WHERE vec_id >= 100),
        |pairs AS (SELECT s_id, t_id,
        |  round(list_cosine_similarity(CAST(sv AS DOUBLE[]),
        |    CAST(tv AS DOUBLE[])), 5) AS cos
        |  FROM src CROSS JOIN tgt),
        |fwdr AS (SELECT s_id, t_id, cos,
        |  row_number() OVER (PARTITION BY s_id ORDER BY cos DESC, t_id) AS r FROM pairs),
        |afwd AS (SELECT s_id, avg(cos) AS a_src FROM fwdr WHERE r <= 4 GROUP BY 1),
        |bwdr AS (SELECT t_id, s_id, cos,
        |  row_number() OVER (PARTITION BY t_id ORDER BY cos DESC, s_id) AS r FROM pairs),
        |abwd AS (SELECT t_id, avg(cos) AS a_tgt FROM bwdr WHERE r <= 4 GROUP BY 1),
        |cand AS (SELECT s_id, t_id, cos FROM fwdr WHERE r = 1)
        |SELECT c.s_id AS src_id, c.t_id AS tgt_id, c.cos,
        |  round(c.cos / (0.5 * (a.a_src + b.a_tgt)), 5) AS margin
        |FROM cand c JOIN afwd a USING (s_id) JOIN abwd b ON c.t_id = b.t_id
        |WHERE round(c.cos / (0.5 * (a.a_src + b.a_tgt)), 5) >= 1.0""".stripMargin,
    "q_knn_cosine" ->
      """WITH q AS (SELECT vec_id AS q_id, embedding AS q_vec FROM embeddings WHERE vec_id < 10),
        |sims AS (
        |  SELECT q.q_id, c.vec_id AS n_id,
        |    round(list_cosine_similarity(CAST(q.q_vec AS DOUBLE[]),
        |      CAST(c.embedding AS DOUBLE[])), 5) AS cos
        |  FROM q CROSS JOIN embeddings c WHERE q.q_id <> c.vec_id),
        |ranked AS (
        |  SELECT q_id, n_id, cos,
        |    CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS INT) AS rank
        |  FROM sims)
        |SELECT q_id, n_id, cos, rank FROM ranked WHERE rank <= 10""".stripMargin
  )
}
