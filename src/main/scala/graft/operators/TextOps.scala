package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text analysis for training-data pipelines: language ID (stopword
  * n-gram heuristic), quality scoring (length/punctuation/stopword/word
  * -length ratios), token counting (whitespace + BPE-ish regex), and
  * document fingerprinting (rolling hash / min-sampling).
  *
  * All pure Column expressions — embarrassingly parallel, no shuffle,
  * whole-stage codegen. Reference scope: the pipeline extensions of
  * SURVEY.md §2.9 (beyond lf-edge/ekuiper's own surface).
  */
object TextOps {

  /** Whitespace tokens, lower-cased. */
  def tokens(text: Column): Column =
    filter(split(lower(text), "\\s+"), t => length(t) > 0)

  // The scalar statistics below all read the one-pass codegen kernel
  // (graft.functions.TextStats — r21): one array of counts per row
  // instead of a regex / split / interpreted-HOF stack per statistic.
  // Ratio arithmetic stays in Column algebra on the kernel's counts,
  // so every value is bit-identical to the historical HOF formulation
  // (pinned in TextOpsSpec; the DuckDB oracles replay unchanged).
  // Repeated stats(text) subtrees in one projection collapse to a
  // single kernel call under whole-stage-codegen subexpression
  // elimination.
  import graft.functions.{TextStats => TS}
  private def stat(text: Column, i: Int): Column =
    graft.functions.TextStatsFunctions.text_stats(text).getItem(i)

  /** Whitespace token count. NULL text yields NULL (the kernel is a
    * null-safe expression) — the pre-r21 size(split(...)) form read -1
    * under legacy sizeOfNull; null-in/null-out is the documented
    * contract since r21 (ADVICE r21: filters behave identically —
    * both are non-true — and no oracle table carries null text, so no
    * published value changed).
    */
  def tokenCount(text: Column): Column = stat(text, TS.IDX_TOKENS)

  /** BPE-ish subword token count: GPT-2-style pre-tokenizer pieces
    * (word fragments, numbers, punctuation runs) — the cheap proxy for
    * "how many tokens will the tokenizer emit".
    */
  def bpeTokenCount(text: Column): Column =
    size(regexp_extract_all(text,
      lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]+"), lit(0))).cast("long")

  /** Ratio of punctuation characters to all characters. */
  def punctRatio(text: Column): Column =
    stat(text, TS.IDX_PUNCT).cast("double") /
      greatest(stat(text, TS.IDX_CHARS), lit(1L)).cast("double")

  /** Ratio of alphabetic characters to all characters. */
  def alphaRatio(text: Column): Column =
    stat(text, TS.IDX_ALPHA).cast("double") /
      greatest(stat(text, TS.IDX_CHARS), lit(1L)).cast("double")

  /** Mean word length over whitespace tokens. */
  def meanWordLen(text: Column): Column =
    when(stat(text, TS.IDX_TOKENS) > 0,
      stat(text, TS.IDX_TOK_CHARS).cast("double") /
        stat(text, TS.IDX_TOKENS).cast("double"))
      .otherwise(lit(0.0))

  /** Small per-language stopword lists (top function words) — the
    * canonical copy lives next to the kernel that scans for them.
    */
  val stopwords: Map[String, Seq[String]] = TS.stopwords

  /** Fraction of tokens that are stopwords of the given language. */
  def stopwordRatio(text: Column, lang: String = "en"): Column = {
    val li = TS.langs.indexOf(lang)
    require(li >= 0, s"unknown stopword language: $lang")
    when(stat(text, TS.IDX_TOKENS) > 0,
      stat(text, TS.IDX_SW_BASE + li).cast("double") /
        stat(text, TS.IDX_TOKENS).cast("double"))
      .otherwise(lit(0.0))
  }

  /** Language ID: argmax of per-language stopword hit ratios; "und"
    * (undetermined) when nothing matches. One-pass codegen kernel
    * (graft.functions.LangIdExpr); `langIdReference` below is the
    * HOF formulation it is pinned against in TextHashingSpec.
    */
  def langId(text: Column): Column =
    graft.functions.TextHashFunctions.lang_id(text)

  /** Slow HOF reference implementation of langId (tests only). */
  def langIdReference(text: Column): Column = {
    val scored = stopwords.toSeq.sortBy(_._1).map { case (lang, _) =>
      struct(stopwordRatio(text, lang).as("score"), lit(lang).as("lang"))
    }
    val best = array_max(array(scored: _*))
    when(best.getField("score") > 0, best.getField("lang")).otherwise(lit("und"))
  }

  /** Composite quality score in [0,1]: weighted blend of alpha ratio,
    * stopword presence, sane mean word length, and low punctuation.
    */
  def qualityScore(text: Column): Column = {
    val lenOk = when(stat(text, TS.IDX_CHARS).between(50, 100000), 1.0).otherwise(0.0)
    val wordLenOk = when(meanWordLen(text).between(2.0, 12.0), 1.0).otherwise(0.0)
    round(
      lit(0.3) * alphaRatio(text) +
      lit(0.3) * least(stopwordRatio(text) * 5, lit(1.0)) +
      lit(0.2) * lenOk +
      lit(0.1) * wordLenOk +
      lit(0.1) * (lit(1.0) - least(punctRatio(text) * 10, lit(1.0))), 6)
  }

  /** Precision/recall threshold sweep — the calibration step between
    * a scored corpus and an actual filter cutoff: for each threshold
    * tᵢ = i/steps, how many documents a `score >= tᵢ` filter keeps and
    * what precision/recall/F1 it achieves against `labelCol` (a binary
    * reference judgment: a labeled sample, a rule oracle, an existing
    * production filter). Returns one row per threshold:
    * (threshold, pred_pos, tp, precision, recall, f1).
    *
    * Scale shape: ONE partial-agg pass over the corpus folds scores
    * into ≤`steps` bucket rows (bucket = ⌊score·steps⌋ clamped); all
    * cumulative/ratio arithmetic then runs on that tiny table
    * (threshold × bucket triangle join, ≤ steps² rows) — no corpus
    * sort, no second scan, no collect. Empty-filter convention:
    * precision at a threshold keeping nothing is 1.0 (vacuous truth),
    * recall 0.0 with no positives. Negative-score convention: a
    * score < 0 is kept by NO nonnegative threshold — its row counts
    * in the recall denominator but never in pred_pos/tp, which is
    * exactly what the `score >= t` filter does (NOT the clamp-into-
    * bin-0 convention of [[calibration]], which must place every
    * observation in some bin; the divergence is deliberate).
    */
  def prCurve(scored: DataFrame, scoreCol: String, labelCol: String,
              steps: Int = 20): DataFrame = {
    require(steps >= 1, s"steps must be >= 1, got $steps")
    // the bucket table feeds two branches (cumulative + totals) —
    // materialize its ≤steps rows once so the corpus is scanned
    // exactly once no matter how many actions read the result
    val b = scored.select(
        least(floor(col(scoreCol) * steps), lit(steps - 1)).cast("int").as("bucket"),
        col(labelCol).cast("int").as("y"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"), sum(col("y")).as("pos"))
      .localCheckpoint(true)
    val th = scored.sparkSession.range(steps)
      .select(col("id").cast("int").as("i"))
    val cum = th.join(broadcast(b), col("bucket") >= col("i"), "left")
      .groupBy(col("i"))
      .agg(coalesce(sum(col("n")), lit(0L)).as("pred_pos"),
        coalesce(sum(col("pos")), lit(0L)).as("tp"))
    val totals = b.agg(coalesce(sum(col("pos")), lit(0L)).as("p_all"))
    val prec = when(col("pred_pos") > 0,
      col("tp").cast("double") / col("pred_pos")).otherwise(lit(1.0))
    val rec = when(col("p_all") > 0,
      col("tp").cast("double") / col("p_all")).otherwise(lit(0.0))
    cum.crossJoin(broadcast(totals))
      .select(
        round(col("i").cast("double") / steps, 6).as("threshold"),
        col("pred_pos"), col("tp"),
        round(prec, 6).as("precision"),
        round(rec, 6).as("recall"),
        round(when(prec + rec > 0, lit(2.0) * prec * rec / (prec + rec))
          .otherwise(lit(0.0)), 6).as("f1"))
  }

  /** Calibration (reliability-diagram) table for a probabilistic
    * score: per score bin — count, mean predicted score, empirical
    * positive rate, and their absolute gap (the per-bin term of
    * expected calibration error; ECE = Σ n·gap / Σ n downstream).
    * Same scale shape as [[prCurve]]: ONE partial-agg pass folding the
    * corpus into ≤`bins` rows; scores outside [0,1) clamp into the
    * edge bins — a reliability diagram must place every observation
    * somewhere, so a negative score lands in bin 0 here even though
    * [[prCurve]] (deliberately) keeps it below every threshold.
    */
  def calibration(scored: DataFrame, scoreCol: String, labelCol: String,
                  bins: Int = 10): DataFrame = {
    require(bins >= 1, s"bins must be >= 1, got $bins")
    scored.select(
        greatest(least(floor(col(scoreCol) * bins), lit(bins - 1)), lit(0))
          .cast("int").as("bin"),
        col(scoreCol).as("s"), col(labelCol).cast("int").as("y"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"),
        round(avg(col("s")), 6).as("mean_score"),
        round(avg(col("y")), 6).as("frac_pos"))
      .select(
        round(col("bin").cast("double") / bins, 6).as("bin_lo"),
        col("n"), col("mean_score"), col("frac_pos"),
        round(abs(col("mean_score") - col("frac_pos")), 6).as("gap"))
  }

  /** Grouped ROC AUC of a score against a binary label, via the
    * Mann-Whitney rank statistic (AUC = P(score⁺ > score⁻), ties at
    * ½): ascending ranks within each group with average rank over
    * ties, then AUC = (Σ₊ rank − P(P+1)/2) / (P·N). The
    * threshold-free companion of [[prCurve]] — one number per group
    * for "does this quality score separate good from bad here",
    * comparable across sources/languages/snapshots. Groups with a
    * single class return null AUC (undefined, not 0).
    *
    * Scale shape (r21): the corpus folds MAP-SIDE to one row per
    * (group, score) — count + positive count — so the only shuffle
    * carries distinct (group, score) pairs, and the rank arithmetic
    * runs as a cumulative window over that (score-cardinality-bounded)
    * table: the average tie rank at score s is cum_before(s)+(nₛ+1)/2,
    * and Σ₊ ranks = Σₛ nposₛ·rankₛ. Every rank is an exact multiple of
    * 0.5 and the sums stay far below 2⁵³, so this grouped form is
    * BIT-identical to the per-row rank window it replaces (the r20
    * shape sorted the whole corpus inside each group — the spill the
    * old scaladoc apologized for; the sort now touches only the
    * aggregated score table). Returns (group, n_pos, n_neg, auc).
    */
  def rocAuc(scored: DataFrame, groupCol: String, scoreCol: String,
             labelCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val perScore = scored.select(
        col(groupCol).as("g"), col(scoreCol).as("s"),
        col(labelCol).cast("int").as("y"))
      // unlabeled/unscored rows are EXCLUDED, not counted as negatives
      // — they would both inflate n_neg and shift every rank (and
      // null-score ordering differs across engines)
      .where(col("s").isNotNull && col("y").isNotNull)
      .groupBy(col("g"), col("s"))
      .agg(count(lit(1)).as("n"), sum(col("y")).as("npos"))
    // inclusive running count per group in score order; each (g, s)
    // row is unique, so the frame has no tie ambiguity
    val wCum = Window.partitionBy(col("g")).orderBy(col("s"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    perScore
      .withColumn("cum", sum(col("n")).over(wCum))
      // average rank over ties keeps AUC exact under duplicate scores:
      // ranks cum-n+1 .. cum average to cum - n + (n+1)/2
      .withColumn("rps_s",
        col("npos") * (col("cum") - col("n") + (col("n") + 1) / 2.0))
      .groupBy(col("g"))
      .agg(
        sum(col("npos")).cast("long").as("n_pos"),
        (sum(col("n")) - sum(col("npos"))).cast("long").as("n_neg"),
        sum(when(col("npos") > 0, col("rps_s"))).as("rps"))
      .select(
        col("g").as(groupCol), col("n_pos"), col("n_neg"),
        round(when(col("n_pos") > 0 && col("n_neg") > 0,
          (col("rps") - col("n_pos").cast("double") * (col("n_pos") + 1) / 2.0) /
            (col("n_pos").cast("double") * col("n_neg"))), 6).as("auc"))
  }

  /** Token-budget mixture selection — the unit of LLM data mixing is
    * TOKENS, not rows (DoReMi / LLaMA-style recipes allocate a token
    * budget per domain): within each group, documents are taken
    * greedily in (score desc, id asc) order while the running token
    * sum stays within that group's budget. Deterministic — the
    * ordering key is a total order, so the kept set is a pure
    * function of (corpus, budgets). The row-based companions are
    * `q_sample_mixture` / `q_sample_temperature`; this is the
    * budgeted realization that actually lands a target token count.
    *
    * Scale shape: `budgets` is one row per group and broadcasts; the
    * corpus shuffles ONCE on the group key into a spill-capable
    * running-sum window. For a huge group, pre-gate with an
    * approximate per-group score threshold (approx_percentile at
    * ~budget/mean_tokens rank) so only near-cut candidates reach the
    * exact window — the deterministic key makes the gated result
    * identical. Returns (id, group, tokens, score, cum_tokens).
    */
  def tokenBudgetSample(docs: DataFrame, idCol: String, groupCol: String,
                        tokensCol: String, scoreCol: String,
                        budgets: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(groupCol))
      .orderBy(col(scoreCol).desc, col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs.join(broadcast(budgets), Seq(groupCol))
      .withColumn("cum_tokens", sum(col(tokensCol)).over(w).cast("long"))
      .where(col("cum_tokens") <= col("budget"))
      .select(col(idCol), col(groupCol), col(tokensCol), col(scoreCol),
        col("cum_tokens"))
  }

  /** Deterministic train/validation/test split assignment: a pure
    * function of the id (md5 bucket over 10⁶), so membership is
    * stable across runs, re-exports, and engines — a grown corpus
    * keeps every old document in its old split, and no shuffle or
    * state is needed to assign it. `weights` are (name, weight) in
    * priority order; they are normalized, so (train 0.8, val 0.1,
    * test 0.1) and (8, 1, 1) are the same split.
    */
  def splitAssign(id: Column, weights: Seq[(String, Double)]): Column = {
    require(weights.nonEmpty && weights.forall(_._2 > 0),
      "weights must be non-empty and positive")
    val total = weights.map(_._2).sum
    val bucket = pmod(graft.functions.TextHashFunctions.hex_slice_long(
      md5(concat(lit("split:"), id.cast("string"))), 1), lit(1000000L))
    val cuts = weights.scanLeft(0.0) { case (acc, (_, w)) => acc + w / total }
      .tail.map(f => math.round(f * 1000000L))
    // last branch is the otherwise — no row can fall through
    weights.init.zip(cuts.init).reverse
      .foldLeft(lit(weights.last._1): Column) { case (els, ((name, _), cut)) =>
        when(bucket < cut, lit(name)).otherwise(els)
      }
  }

  /** Document fingerprint: min-sampled hash over word 5-gram shingles
    * (winnowing-style). Two documents sharing long runs of text collide
    * with high probability; robust to reordering of distant parts.
    * Returns a 64-bit fingerprint: the minimum md5-derived shingle base
    * hash mod 2³¹−1 (whole-text md5 for sub-shingle docs), every step
    * replayable as DuckDB md5 + BIGINT arithmetic.
    */
  def fingerprint(text: Column, n: Int = 5): Column =
    graft.functions.TextHashFunctions.portable_doc_fingerprint(text, n)

  // ---- PII scrubbing (training-corpus redaction pass) ----
  // Regexes stay in the Java∩RE2 common subset so the DuckDB oracle
  // runs the exact same patterns.

  val piiEmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val piiIpv4Re = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  val piiPhoneRe = "\\b\\d{3}-\\d{3}-\\d{4}\\b"

  /** Count of matches for one PII pattern. */
  def piiCount(text: Column, re: String): Column =
    size(regexp_extract_all(text, lit(re), lit(0))).cast("long")

  /** Redact emails / IPv4s / phone numbers with typed placeholders —
    * one codegen projection, no UDF. Phones go first so their digit
    * groups can't be half-eaten by the IP pattern.
    */
  def piiRedact(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, piiPhoneRe, "<PHONE>"),
        piiIpv4Re, "<IP>"),
      piiEmailRe, "<EMAIL>")

  // ---- repetition metrics (Gopher/RefinedWeb-style quality filters) ----

  /** Non-blank lines of the document. */
  def lines(text: Column): Column =
    filter(split(text, "\n"), l => length(trim(l)) > 0)

  /** Fraction of lines that duplicate an earlier line — the classic
    * boilerplate signal (headers, nav bars, repeated footers).
    */
  def dupLineFrac(text: Column): Column = {
    val ls = lines(text)
    when(size(ls) > 0,
      (size(ls) - size(array_distinct(ls))).cast("double") / size(ls).cast("double"))
      .otherwise(lit(0.0))
  }

  /** Word n-gram strings (space-joined, lower-cased tokens). */
  def wordGrams(text: Column, n: Int): Column =
    coalesce(graft.functions.Grams.gram_strings(tokens(text), n),
      array().cast("array<string>"))

  /** Fraction of bigrams that repeat an earlier bigram — high values
    * mark degenerate/templated text (the Gopher "duplicate n-gram"
    * family). Array formulation — fine for short texts; pipelines over
    * long documents should aggregate [[wordGramHashes]] instead
    * (explode + partial agg), which never materializes gram strings.
    */
  def bigramDupFrac(text: Column): Column = {
    val gs = wordGrams(text, 2)
    when(size(gs) > 0,
      (size(gs) - size(array_distinct(gs))).cast("double") / size(gs).cast("double"))
      .otherwise(lit(0.0))
  }

  /** Total word n-gram count: max(tokens - n + 1, 0) — no gram ever
    * materializes. Pairs with [[graft.operators.Dedup.shingleHashes]]
    * (codegen kernel, DISTINCT gram hashes) so repetition ratios are a
    * map-only projection: (total - distinct) / total.
    */
  def wordGramCount(text: Column, n: Int): Column =
    greatest(tokenCount(text) - lit(n - 1), lit(0L))

  /** Deterministic per-mille bucket from the content's md5 — the
    * portable sampling key (identical in any engine with md5), used
    * for reproducible corpus sampling: `bucket < rate‰` keeps the row.
    * Content-keyed, so resamples of a grown corpus keep prior picks.
    */
  def samplingBucket(text: Column): Column =
    pmod(graft.functions.TextHashFunctions.hex_slice_long(md5(text), 1),
      lit(1000L))

  /** Corpus-level boilerplate removal (the C4/CCNet hygiene step):
    * terms — lines for `delimiter="\n"`, words for `" "` — whose
    * DOCUMENT frequency reaches `minDocFrac` of the corpus are
    * stripped from every document. Returns per doc: removed/kept term
    * counts, kept character mass, and the cleaned text with original
    * term order preserved.
    *
    * Scale shape: one exact doc-frequency aggregation (shuffle keyed
    * on the term — at 100 TB, pre-hash terms to 8-byte keys and keep
    * a term↔hash sample for the strip set), then the boilerplate set
    * BROADCASTS (by construction it is tiny: only terms in ≥
    * minDocFrac of all documents) so the strip pass is map-side — the
    * corpus never shuffles for the rebuild; the per-doc regroup
    * partitions by doc_id.
    */
  def stripBoilerplate(docs: org.apache.spark.sql.DataFrame, idCol: String,
                       textCol: String, delimiter: String,
                       minDocFrac: Double): org.apache.spark.sql.DataFrame = {
    val total = docs.count() // one scalar on the driver (corpus row count)
    val threshold = math.ceil(minDocFrac * total).toLong
    val terms = docs.select(col(idCol).as("doc_id"),
      posexplode(split(col(textCol),
        java.util.regex.Pattern.quote(delimiter))).as(Seq("pos", "term")))
    val boilerplate = terms.groupBy("term")
      .agg(countDistinct("doc_id").as("dcnt"))
      .where(col("dcnt") >= threshold)
      .select(col("term"), lit(true).as("is_bp"))
    terms.join(broadcast(boilerplate), Seq("term"), "left")
      .groupBy("doc_id")
      .agg(
        count(when(col("is_bp"), 1)).as("removed_terms"),
        count(when(col("is_bp").isNull, 1)).as("kept_terms"),
        coalesce(sum(when(col("is_bp").isNull, length(col("term")))), lit(0L))
          .cast("long").as("kept_chars"),
        concat_ws(delimiter, transform(
          array_sort(collect_list(when(col("is_bp").isNull,
            struct(col("pos"), col("term"))))),
          s => s("term"))).as("cleaned"))
  }

  /** Corpus-trained bigram language-model scoring (the CCNet/CC-Clean
    * perplexity filter, self-trained: score every document by how
    * typical its word transitions are for THIS corpus — outliers in
    * either direction are junk candidates). For each document, the
    * mean negative log add-k-smoothed bigram probability
    *   cost(w1 w2) = -ln((c(w1,w2) + k) / (c(w1) + k·V))
    * averaged over the document's bigrams (documents with < 2 tokens
    * drop out — they have no transitions to score). Lower = more
    * typical. `exp(logppl)` is the conventional perplexity.
    *
    * Scale shape: two count aggregations (unigram, bigram — shuffles
    * keyed on 8/16-byte terms), then scoring joins the document's
    * exploded bigrams to the count tables — tiny by construction
    * relative to the corpus (≤ V + V² rows) — and one per-doc
    * regroup. No driver state: V and the counts stay distributed; AQE
    * broadcasts the count sides when they fit.
    *
    * `minCount` is the 100 TB model-size dial: words seen fewer than
    * `minCount` times are dropped from the vocabulary (and any bigram
    * touching them from the model), so the model is bounded to the
    * top-vocabulary regardless of corpus size. A transition FROM a
    * pruned word scores at the smoothing floor -ln(k/(k·V)) = ln(V)
    * (its unigram count zeroes out); a transition TO a pruned word
    * from a kept one scores -ln(k/(c1 + k·V)) — above the floor,
    * since the kept word's count stays in the denominator. V counts
    * the KEPT vocabulary; a minCount high enough to empty it yields
    * null scores (division by zero in non-ANSI mode), not an error —
    * callers picking aggressive cuts should sanity-check V first.
    * The default (1) keeps everything.
    */
  def lmPerplexity(docs: org.apache.spark.sql.DataFrame, idCol: String,
                   textCol: String, k: Double = 0.5,
                   minCount: Long = 1): org.apache.spark.sql.DataFrame = {
    val toks = docs.select(col(idCol).as("doc_id"), tokens(col(textCol)).as("ts"))
    val bigrams = toks.select(col("doc_id"),
      explode(graft.functions.Grams.gram_structs(col("ts"),
        Seq("w1", "w2"))).as("b"))
      .select(col("doc_id"), col("b.w1"), col("b.w2"))
    // r22: ONE fused count pass — the all-grams kernel emits every
    // token as (w, null) next to every bigram as (w1, w2), so one
    // explode + groupBy carries BOTH count tables (guide §2.4: the
    // unigram aggregate was a second corpus tokenize/explode/shuffle
    // over entries this pass already shuffles; total shuffled rows
    // are unchanged). Null groups split the tables back exactly.
    // The EAGER localCheckpoint materializes the TYPE table (model-
    // bounded, never corpus-sized) exactly once: without the
    // barrier each consumer's w2-null/not-null filter pushes BELOW the
    // aggregate and un-fuses the pass into one corpus explode per
    // consumer (verified in the executed plan — the exchange stops
    // being reusable once the pushed filters differ).
    val counts = toks.select(explode(graft.functions.Grams.all_gram_structs(
        col("ts"), Seq("w1", "w2"))).as("g"))
      .groupBy(col("g.w1").as("w1"), col("g.w2").as("w2"))
      .agg(count(lit(1)).as("c"))
      .localCheckpoint(true)
    val uniAll = counts.where(col("w2").isNull)
      .select(col("w1"), col("c").as("c1"))
    val uni = if (minCount <= 1) uniAll else uniAll.where(col("c1") >= minCount)
    val biAll = counts.where(col("w2").isNotNull)
      .select(col("w1"), col("w2"), col("c").as("c2"))
    // the model only keeps transitions BETWEEN kept words — a bigram
    // through a pruned word must fall to the smoothing floor, not
    // keep its real count against a zeroed unigram (that would let
    // P > 1). At the default minCount ≤ 1 the prune join is an
    // identity over the unique-keyed biAll, so it is skipped outright.
    val bi = if (minCount <= 1) biAll else biAll.select(col("w1"), col("w2"))
      .join(biAll
        .join(uni.select(col("w1")), Seq("w1"), "left_semi")
        .join(uni.select(col("w1").as("w2")), Seq("w2"), "left_semi"),
        Seq("w1", "w2"), "left")
    // V = |kept vocabulary| = the unigram table's row count — derived
    // from the already-aggregated (tiny) table, not a third
    // corpus-wide distinct over the raw token stream
    val vocab = uni.agg(count(lit(1)).as("vs"))
    // score each bigram TYPE once over the vocabulary-bounded tables
    // (bi keys every type the stream can produce, so pruned
    // transitions still resolve — their kept-count columns read null
    // exactly as the per-occurrence joins did), then attach the scored
    // table to the corpus stream with a SINGLE join. Before r21 the
    // occurrence stream probed bi + uni + vocab separately — three
    // corpus-scale join passes where one suffices (guide §2.4/§3).
    val scored = bi
      .join(uni, Seq("w1"), "left")
      .crossJoin(broadcast(vocab)) // one row: the vocabulary size
      .select(col("w1"), col("w2"),
        (-log((coalesce(col("c2"), lit(0L)) + lit(k)) /
          (coalesce(col("c1"), lit(0L)) + lit(k) * col("vs")))).as("nll"))
    bigrams
      .join(scored, Seq("w1", "w2"), "left")
      .groupBy(col("doc_id"))
      .agg(round(avg(col("nll")), 4).as("logppl"),
        count(lit(1)).as("n_bigrams"))
  }

  /** Interpolated Kneser-Ney bigram perplexity (Kneser & Ney 1995;
    * Chen & Goodman 1999's benchmark formulation — the KenLM-style
    * smoothing real LM-quality filters use, vs [[lmPerplexity]]'s
    * add-k baseline):
    *
    *   P(w2|w1) = max(c(w1w2) − D, 0)/c(w1) + D·N1+(w1·)/c(w1) · Pcont(w2)
    *   Pcont(w2) = (N1+(·w2) + 0.5) / (types + 0.5·V)
    *
    * with full backoff to Pcont for unseen histories. Pcont carries a
    * light add-half floor over the vocabulary so out-of-model words
    * score finitely (a documented stand-in for the <unk> mass real
    * toolkits reserve); each term is capped below 1 before the log.
    *
    * Scale shape mirrors lmPerplexity: the count tables are bounded
    * by vocabulary (not corpus) size and compose to a per-TYPE score
    * among themselves; the corpus stream attaches it in one
    * AQE-broadcast join and shuffles once for the per-doc regroup.
    */
  def lmPerplexityKN(docs: org.apache.spark.sql.DataFrame, idCol: String,
                     textCol: String,
                     discount: Double = 0.75): org.apache.spark.sql.DataFrame = {
    val toks = docs.select(col(idCol).as("doc_id"), tokens(col(textCol)).as("ts"))
    val bigrams = toks.select(col("doc_id"),
      explode(graft.functions.Grams.gram_structs(col("ts"),
        Seq("w1", "w2"))).as("b"))
      .select(col("doc_id"), col("b.w1"), col("b.w2"))
    // r22: ONE fused count pass (all-grams kernel — tokens as
    // (w, null), bigrams as (w1, w2)) replaces the separate unigram
    // and bigram corpus aggregates; null groups split the two tables
    // back exactly (guide §2.4 — one corpus explode/shuffle, not two).
    // Eager localCheckpoint: the model-bounded type table materializes
    // once (lazy would let concurrent AQE stages race to compute it);
    // without the barrier each consumer's key filter pushes
    // below the aggregate and re-runs the corpus explode per consumer.
    val counts = toks.select(explode(graft.functions.Grams.all_gram_structs(
        col("ts"), Seq("w1", "w2"))).as("g"))
      .groupBy(col("g.w1").as("w1"), col("g.w2").as("w2"))
      .agg(count(lit(1)).as("c"))
      .localCheckpoint(true)
    val uni = counts.where(col("w2").isNull)
      .select(col("w1"), col("c").as("c1"))
    val bi = counts.where(col("w2").isNotNull)
      .select(col("w1"), col("w2"), col("c").as("c2"))
    val cont = bi.groupBy(col("w1")).agg(count(lit(1)).as("n1p"))   // N1+(w1·)
    val hist = bi.groupBy(col("w2")).agg(count(lit(1)).as("n1m"))   // N1+(·w2)
    // the two scalar totals fold in ONE aggregate over the fused count
    // table — one broadcast row instead of two (r22; they were two
    // separate aggregates + two broadcast crossJoins)
    val scal = counts.agg(
      count(when(col("w2").isNotNull, 1)).as("nt"),   // bigram types
      count(when(col("w2").isNull, 1)).as("vs"))      // |vocabulary|
    val pcont = (coalesce(col("n1m"), lit(0L)) + lit(0.5)) /
      (col("nt") + lit(0.5) * col("vs"))
    val seen = (greatest(col("c2") - lit(discount), lit(0.0)) / col("c1")) +
      (lit(discount) * col("n1p") / col("c1")) * pcont
    val p = least(lit(0.999999),
      when(col("c1").isNotNull, seen).otherwise(pcont))
    // r21: score each bigram TYPE once (bi already keys every type the
    // stream produces — it was counted FROM the stream), then one
    // corpus-scale join attaches the scores. Previously the occurrence
    // stream probed bi/uni/cont/hist/types/vocab in six join passes.
    val scored = bi
      .join(uni, Seq("w1"), "left")
      .join(cont, Seq("w1"), "left")
      .join(hist, Seq("w2"), "left")
      .crossJoin(broadcast(scal))
      .select(col("w1"), col("w2"), (-log(p)).as("nll"))
    bigrams
      .join(scored, Seq("w1", "w2"), "left")
      .groupBy(col("doc_id"))
      .agg(round(avg(col("nll")), 4).as("kn_logppl"),
        count(lit(1)).as("n_bigrams"))
  }

  /** C4/CCNet-style ingestion normalization — NFKC + typographic
    * folds + control strip + whitespace canonicalization, one codegen
    * kernel per row ([[graft.functions.NormalizeKernels]]). Idempotent.
    */
  def normalizeText(text: Column): Column =
    graft.functions.NormalizeFunctions.normalize_text(text)

  /** zlib bytes-out over bytes-in — the CCNet compression-ratio
    * quality signal: highly repetitive/templated text compresses far
    * below typical prose, natural text sits near a stable band.
    * Map-only (the compress kernel already runs in codegen).
    */
  def compressionRatio(text: Column): Column =
    when(octet_length(text) > 0,
      round(octet_length(graft.functions.CompressionFunctions
        .compress(text, "zlib")).cast("double") /
        octet_length(text).cast("double"), 6))
      .otherwise(lit(1.0))

  /** Multi-pattern keyword tagging via one Aho-Corasick pass per
    * document ([[graft.functions.AcAutomaton]]): total occurrence
    * count + the sorted distinct patterns matched. The automaton
    * builds once from the (driver-side) pattern list and broadcasts
    * inside the codegen kernel — the blocklist/topic-tag primitive at
    * thousands of patterns, map-only at any corpus size.
    */
  def keywordTag(text: org.apache.spark.sql.Column,
                 patterns: Seq[String]): org.apache.spark.sql.Column =
    graft.functions.AcFunctions.keyword_tag(text, patterns)

  /** Fit a serving-side KN model on a STATIC corpus: the count tables
    * (n-gram TYPES — vocabulary-bounded, never corpus-sized) collapse
    * to hash maps inside a [[graft.functions.KnModel]], and the
    * returned column factory scores any text map-only through one
    * codegen kernel — identical under Structured Streaming (the
    * bm25Scorer serving pattern). This is where the backoff branches
    * the self-trained batch operator can't reach become live: scoring
    * text routinely has unseen histories and OOV words.
    */
  def knScorer(corpus: org.apache.spark.sql.DataFrame, textCol: String,
               discount: Double = 0.75): org.apache.spark.sql.Column => org.apache.spark.sql.Column = {
    val model = fitKnModel(corpus, textCol, discount)
    (text: org.apache.spark.sql.Column) =>
      graft.functions.KnFunctions.kn_bits(text, model)
  }

  /** Bounded-collect guard shared by the KN serving fits: the serving
    * models are for BOUNDED reference corpora (every deployed LM
    * trains on a sample), and this enforces that contract instead of
    * documenting it — a fit over a web-scale corpus fails fast with
    * guidance rather than silently materializing O(n-gram-types) in a
    * driver HashMap. `limit(maxTypes+1)` bounds the collect itself, so
    * even the failing path never pulls more than maxTypes+1 rows.
    */
  private def guardedCollect(df: org.apache.spark.sql.DataFrame,
      maxTypes: Int, what: String): Array[org.apache.spark.sql.Row] = {
    require(maxTypes > 0, s"$what: maxTypes must be positive, got $maxTypes")
    val limit = math.min(maxTypes.toLong + 1L, Int.MaxValue.toLong).toInt
    val rows = df.limit(limit).collect()
    require(rows.length <= maxTypes,
      s"$what type table exceeds maxTypes=$maxTypes: the serving-model fit " +
      "collects n-gram TYPE tables to the driver and is meant for a bounded " +
      "reference corpus (fit on a sample, e.g. corpus.limit(...)); raise " +
      "minCount/maxTypes, or use the batch operator lmPerplexityKN/KN3 for " +
      "corpus-scale scoring")
    rows
  }

  /** The serving model behind [[knScorer]], exposed for persistence.
    * `minCount` prunes bigram types below the threshold before
    * collection (the [[lmPerplexity]] precedent); `maxTypes` bounds
    * each collected table and fails fast past it. Defaults preserve
    * the historical behavior exactly.
    */
  def fitKnModel(corpus: org.apache.spark.sql.DataFrame, textCol: String,
                 discount: Double = 0.75, minCount: Long = 1L,
                 maxTypes: Int = 10000000): graft.functions.KnModel = {
    val toks = corpus.select(tokens(col(textCol)).as("ts"))
    val uniRows = guardedCollect(toks.select(explode(col("ts")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c")), maxTypes, "fitKnModel: unigram")
      .map(r => r.getString(0) -> r.getLong(1))
    val biRows = guardedCollect(toks.select(
      explode(graft.functions.Grams.gram_strings(col("ts"), 2)).as("b"))
      .groupBy(col("b")).agg(count(lit(1)).as("c"))
      .where(col("c") >= minCount), maxTypes, "fitKnModel: bigram")
      .map(r => r.getString(0) -> r.getLong(1))
    val c1 = new java.util.HashMap[String, java.lang.Long]()
    uniRows.foreach { case (w, c) => c1.put(w, c) }
    val c2 = new java.util.HashMap[String, java.lang.Long]()
    val n1p = new java.util.HashMap[String, java.lang.Long]()
    val n1m = new java.util.HashMap[String, java.lang.Long]()
    biRows.foreach { case (bg, c) =>
      c2.put(bg, c)
      val sp = bg.indexOf(' ')
      val w1 = bg.substring(0, sp)
      val w2 = bg.substring(sp + 1)
      n1p.merge(w1, 1L, (a, b) => a + b)
      n1m.merge(w2, 1L, (a, b) => a + b)
    }
    new graft.functions.KnModel(c1, c2, n1p, n1m,
      nTypes = biRows.length.toLong, vocab = uniRows.length.toLong,
      discount = discount)
  }

  /** Persist a serving KN model as parquet (kind, k, v) — same
    * train-once/score-many contract as the other model families.
    */
  def saveKnModel(spark: org.apache.spark.sql.SparkSession,
                  m: graft.functions.KnModel, path: String): Unit = {
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    val rows =
      Seq(("meta", "nTypes", m.nTypes.toDouble), ("meta", "vocab", m.vocab.toDouble),
        ("meta", "discount", m.discount)) ++
      m.c1.asScala.map { case (k, v) => ("c1", k, v.doubleValue()) } ++
      m.c2.asScala.map { case (k, v) => ("c2", k, v.doubleValue()) } ++
      m.n1p.asScala.map { case (k, v) => ("n1p", k, v.doubleValue()) } ++
      m.n1m.asScala.map { case (k, v) => ("n1m", k, v.doubleValue()) }
    rows.toSeq.toDF("kind", "k", "v")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  /** Load a saved serving KN model. */
  def loadKnModel(spark: org.apache.spark.sql.SparkSession,
                  path: String): graft.functions.KnModel = {
    val rows = spark.read.parquet(path)
      .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2)))
    def tbl(kind: String): java.util.HashMap[String, java.lang.Long] = {
      val m = new java.util.HashMap[String, java.lang.Long]()
      rows.foreach { case (k2, key, v) => if (k2 == kind) m.put(key, v.toLong) }
      m
    }
    val meta = rows.collect { case ("meta", k, v) => k -> v }.toMap
    new graft.functions.KnModel(tbl("c1"), tbl("c2"), tbl("n1p"), tbl("n1m"),
      nTypes = meta("nTypes").toLong, vocab = meta("vocab").toLong,
      discount = meta("discount"))
  }

  /** Order-3 serving model for [[graft.functions.Kn3Model]] — the
    * trigram recursion collapsed to hash tables from a BOUNDED
    * reference corpus (sampled, like every deployed LM; the batch
    * operator below is the corpus-scale path). One pass builds the
    * trigram stream; every collected table is n-gram-TYPE bounded,
    * `minCount` prunes rare trigram types, and `maxTypes` enforces the
    * bounded-corpus contract (fails fast past the cap instead of
    * silently materializing web-scale type tables on the driver).
    */
  def fitKn3Model(corpus: org.apache.spark.sql.DataFrame, textCol: String,
                  discount: Double = 0.75, minCount: Long = 1L,
                  maxTypes: Int = 10000000): graft.functions.Kn3Model = {
    val toks = corpus.select(tokens(col(textCol)).as("ts"))
    val tri = toks.select(
      explode(graft.functions.Grams.gram_structs(col("ts"),
        Seq("w1", "w2", "w3"))).as("t"))
      .select(col("t.w1"), col("t.w2"), col("t.w3"))
    def toMap(df: org.apache.spark.sql.DataFrame, what: String): java.util.HashMap[String, java.lang.Long] = {
      val m = new java.util.HashMap[String, java.lang.Long]()
      guardedCollect(df, maxTypes, s"fitKn3Model: $what")
        .foreach(r => m.put(r.getString(0), r.getLong(1)))
      m
    }
    val triTypes = tri.groupBy("w1", "w2", "w3").agg(count(lit(1)).as("c"))
      .where(col("c") >= minCount).cache()
    try {
      val c3 = toMap(triTypes.select(
        concat_ws(" ", col("w1"), col("w2"), col("w3")).as("k"), col("c")), "trigram")
      // history denominator from the PRUNED trigram types (sum of
      // surviving counts per history), not the raw stream: with
      // minCount > 1 the discount mass of pruned trigrams then
      // redistributes consistently and P(w3|w1,w2) stays normalized;
      // at the default minCount = 1 the two are identical
      val c2h = toMap(triTypes.groupBy(col("w1"), col("w2"))
        .agg(sum(col("c")).as("c"))
        .select(concat_ws(" ", col("w1"), col("w2")).as("k"), col("c")), "bigram-history")
      val n1pTop = toMap(triTypes.groupBy(col("w1"), col("w2"))
        .agg(count(lit(1)).as("c"))
        .select(concat_ws(" ", col("w1"), col("w2")).as("k"), col("c")), "N1+(w1w2.)")
      val n1pMid = toMap(triTypes.groupBy(col("w2"), col("w3"))
        .agg(count(lit(1)).as("c"))
        .select(concat_ws(" ", col("w2"), col("w3")).as("k"), col("c")), "N1+(.w2w3)")
      val n1pMidAll = toMap(triTypes.groupBy(col("w2"))
        .agg(count(lit(1)).as("c")).select(col("w2").as("k"), col("c")), "N1+(.w2.)")
      val biTypes = toks.select(
        explode(graft.functions.Grams.gram_structs(col("ts"),
          Seq("a", "b"))).as("g"))
        .select(col("g.a"), col("g.b")).distinct().cache()
      try {
        val n1pW2 = toMap(biTypes.groupBy(col("a"))
          .agg(count(lit(1)).as("c")).select(col("a").as("k"), col("c")), "N1+(w2.)")
        val n1m = toMap(biTypes.groupBy(col("b"))
          .agg(count(lit(1)).as("c")).select(col("b").as("k"), col("c")), "N1+(.w3)")
        val nTypes = biTypes.count()
        val vocab = toks.select(explode(col("ts")).as("w")).distinct().count()
        new graft.functions.Kn3Model(c3, c2h, n1pTop, n1pMid, n1pMidAll,
          n1pW2, n1m, nTypes, vocab, discount)
      } finally biTypes.unpersist(blocking = false)
    } finally triTypes.unpersist(blocking = false)
  }

  /** Order-3 interpolated Kneser-Ney perplexity — the full KenLM
    * recursion (Chen & Goodman 1999 eq. 18): the top order discounts
    * raw trigram counts; the MIDDLE order uses continuation counts
    * (N1+(·w2w3) over N1+(·w2·)), which is the defining Kneser-Ney
    * move; the bottom order is the same add-half-floored continuation
    * unigram as [[lmPerplexityKN]]:
    *
    *   P3(w3|w1w2) = max(c3−D,0)/c2(w1w2) + D·N1+(w1w2·)/c2(w1w2) · P2
    *   P2(w3|w2)   = max(N1+(·w2w3)−D,0)/N1+(·w2·)
    *                 + D·N1+(w2·)/N1+(·w2·) · Pcont(w3)
    *
    * with full backoff (unseen history at an order falls through to
    * the next). All count tables are n-gram-TYPE bounded — corpus
    * frequency never inflates them — and join among THEMSELVES to a
    * per-type score; the corpus-scale trigram stream attaches the
    * finished score in a single AQE-broadcast join, then one regroup
    * on doc id.
    */
  def lmPerplexityKN3(docs: org.apache.spark.sql.DataFrame, idCol: String,
                      textCol: String,
                      discount: Double = 0.75): org.apache.spark.sql.DataFrame = {
    val toks = docs.select(col(idCol).as("doc_id"), tokens(col(textCol)).as("ts"))
    val tri = toks.select(col("doc_id"),
      explode(graft.functions.Grams.gram_structs(col("ts"),
        Seq("w1", "w2", "w3"))).as("t"))
      .select(col("doc_id"), col("t.w1"), col("t.w2"), col("t.w3"))
    // r22: ONE fused count pass for EVERY order — the all-grams kernel
    // emits each token as (w, null, null), each bigram as (w1, w2,
    // null) and each trigram as (w1, w2, w3); one explode + groupBy
    // then carries the trigram count table, the bigram TYPE table and
    // the vocabulary at once (guide §2.4 — it replaces three separate
    // corpus tokenize/explode/aggregate passes; null groups split the
    // tables back exactly, and every count is the same integer the
    // per-order aggregates produced).
    // Eager localCheckpoint: the model-bounded type table materializes
    // once (lazy would let concurrent AQE stages race to compute it);
    // without the barrier each consumer's key filter pushes
    // below the aggregate and re-runs the corpus explode per consumer
    // (six corpus passes where one suffices — measured).
    val counts = toks.select(explode(graft.functions.Grams.all_gram_structs(
        col("ts"), Seq("w1", "w2", "w3"))).as("g"))
      .groupBy(col("g.w1").as("w1"), col("g.w2").as("w2"), col("g.w3").as("w3"))
      .agg(count(lit(1)).as("c"))
      .localCheckpoint(true)
    val triTypes = counts.where(col("w3").isNotNull)
      .select(col("w1"), col("w2"), col("w3"), col("c").as("c3"))
    // c2h counts (w1,w2) occurrences AS TRIGRAM HISTORY, i.e. over the
    // trigram stream — exactly Σ_w3 c3, so it folds from the type
    // table (integer sum: bit-identical) instead of re-aggregating the
    // corpus-scale stream a second time; n1p_top (N1+(w1w2·) —
    // histories at the top order count TRIGRAM occurrences, so the
    // interpolation weights sum correctly over the trigram stream)
    // shares the (w1,w2) key, so both fold in ONE aggregate/exchange
    // (r21, guide §2.4)
    val topHist = triTypes.groupBy(col("w1"), col("w2"))
      .agg(sum(col("c3")).as("c2h"), count(lit(1)).as("n1p_top"))
    val midNum = triTypes.groupBy(col("w2"), col("w3"))
      .agg(count(lit(1)).as("n1p_mid"))                        // N1+(·w2w3)
    // N1+(·w2·) = Σ_w3 N1+(·w2w3): folds from midNum (integer sum,
    // bit-identical) — one fewer pass over the type table (r21)
    val midDen = midNum.groupBy(col("w2"))
      .agg(sum(col("n1p_mid")).as("n1p_mid_all"))              // N1+(·w2·)
    // bigram TYPE tables for λ2 and the continuation unigram — the
    // (w2, null) rows of the fused count table ARE the distinct
    // bigram types (counts ignored; the set is identical)
    val biTypes = counts.where(col("w2").isNotNull && col("w3").isNull)
      .select(col("w1").as("a"), col("w2").as("b"))
    val contMid = biTypes.groupBy(col("a").as("w2"))
      .agg(count(lit(1)).as("n1p_w2"))                         // N1+(w2·)
    val hist = biTypes.groupBy(col("b").as("w3"))
      .agg(count(lit(1)).as("n1m"))                            // N1+(·w3)
    // both scalar totals in ONE aggregate over the fused table — one
    // broadcast row instead of two (r22; |bigram types| and |vocab|
    // were separate aggregates, vocab a THIRD corpus-wide pass)
    val scal = counts.agg(
      count(when(col("w2").isNotNull && col("w3").isNull, 1)).as("nt"),
      count(when(col("w2").isNull, 1)).as("vs"))
    val pcont = (coalesce(col("n1m"), lit(0L)) + lit(0.5)) /
      (col("nt") + lit(0.5) * col("vs"))
    val p2seen = (greatest(col("n1p_mid") - lit(discount), lit(0.0)) / col("n1p_mid_all")) +
      (lit(discount) * col("n1p_w2") / col("n1p_mid_all")) * pcont
    val p2 = when(col("n1p_mid_all").isNotNull, p2seen).otherwise(pcont)
    val p3seen = (greatest(col("c3") - lit(discount), lit(0.0)) / col("c2h")) +
      (lit(discount) * col("n1p_top") / col("c2h")) * p2
    val p = least(lit(0.999999),
      when(col("c2h").isNotNull, p3seen).otherwise(p2))
    // r21: all eight model tables join over the TYPE table (vocabulary-
    // bounded — every join here is tiny), then the corpus-scale trigram
    // stream attaches the finished score in ONE join instead of probing
    // eight tables per occurrence (guide §2.4/§3: fewer corpus passes).
    val scored = triTypes
      .join(topHist, Seq("w1", "w2"), "left")
      .join(midNum, Seq("w2", "w3"), "left")
      .join(midDen, Seq("w2"), "left")
      .join(contMid, Seq("w2"), "left")
      .join(hist, Seq("w3"), "left")
      .crossJoin(broadcast(scal))
      .select(col("w1"), col("w2"), col("w3"), (-log(p)).as("nll"))
    tri
      .join(scored, Seq("w1", "w2", "w3"), "left")
      .groupBy(col("doc_id"))
      .agg(round(avg(col("nll")), 4).as("kn3_logppl"),
        count(lit(1)).as("n_trigrams"))
  }

  /** Windowed exact-substring dedup (the tractable formulation of Lee
    * et al. 2021's ExactSubstr): every L-token window of the corpus is
    * keyed; a window value occurring more than once keeps only its
    * globally-first occurrence (by doc id, then position), and every
    * token covered by a later occurrence is removed. Documents are
    * rebuilt from surviving tokens in order — so repeated passages of
    * length ≥ L disappear from all but the document that said them
    * first, even when the copies sit mid-document (which
    * [[paragraphDedup]]'s span splitting can't see).
    *
    * Window keys are md5 over the space-joined window — 128 bits, so
    * the shuffle carries a fixed 32-byte key instead of the L-token
    * window text (the suffix-array trick of the paper re-expressed as
    * a hash: collision probability at 1e12 windows is ~1e-14, and the
    * key is engine-portable, so the DuckDB oracle replays the whole
    * pipeline exactly).
    *
    * Scale shape: TWO corpus-sized shuffles, each semantically forced
    * — (1) the keep-first pass on the 16-byte key, (2) the rebuild
    * regroup (doc id). The window build itself is MAP-SIDE: the
    * window_md5_keys codegen kernel reads every L-token window off
    * the unexploded token array in one generated loop (r20 removed
    * the per-doc Window-frame collect this step used to shuffle for).
    * The removal set broadcasts back onto the token stream when small
    * (the common case — only duplicated coverage travels); AQE picks
    * the join side at runtime.
    *
    * `skewSafe` picks the keep-first strategy (both measured at sf1;
    * DedupSpec-pinned equivalent):
    *  - false (default): a per-key row_number — fastest when no
    *    window is pathologically duplicated (1.9 s vs 3.2 s at
    *    sf0.1), but a mega-duplicated window (boilerplate 8-grams in
    *    half the corpus) funnels every occurrence through one
    *    reducer's sort.
    *  - true: a MIN-aggregation (map-side combine — hot keys cost
    *    partial-agg work) plus an AQE-skew-splittable join back;
    *    pays the window build twice (both consumers re-derive it),
    *    the right trade only when hot keys dominate the runtime.
    */
  def windowDedup(docs: org.apache.spark.sql.DataFrame, idCol: String,
                  textCol: String, windowTokens: Int,
                  skewSafe: Boolean = false): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val L = windowTokens
    // the token frame feeds the window build AND the anti-join probe —
    // two tokenize passes. Unlike minhashPairs' signature frame
    // (1000× smaller than its source, so materializing wins), the
    // EXPLODED token frame is larger than the text it derives from:
    // checkpointing it costs more I/O at scale than re-tokenizing
    // (measured: sf1 3.0 s recompute vs 4.4 s checkpointed — the
    // numbers in SURVEY §6), so the two passes stay.
    val toks = docs.select(col(idCol).as("doc_id"),
      posexplode(tokens(col(textCol))).as(Seq("pos", "w")))
    // window keys come from the codegen kernel on the UNEXPLODED token
    // array — one generated loop per document, computed map-side. The
    // previous formulation (collect_list over a per-doc Window frame
    // of the exploded tokens) needed a corpus-scale doc_id shuffle +
    // sort JUST to rebuild windows the kernel reads off the array in
    // place; that shuffle is gone (PlanSpec pins the count).
    val wins = docs.select(col(idCol).as("doc_id"),
        explode(graft.functions.Grams.window_md5_keys(
          tokens(col(textCol)), L)).as("wk"))
      .select(col("doc_id"), col("wk.pos").as("pos"), col("wk.key").as("key"))
    // an occurrence is removed iff it is not the key's global
    // (doc_id, pos) minimum — two strategies, see the scaladoc
    val nonFirst =
      if (skewSafe) {
        val firstOcc = wins.groupBy(col("key"))
          .agg(min(struct(col("doc_id"), col("pos"))).as("first"))
        wins.join(firstOcc, Seq("key"))
          .where(struct(col("doc_id"), col("pos")) =!= col("first"))
      } else {
        val rank = Window.partitionBy(col("key")).orderBy(col("doc_id"), col("pos"))
        wins.withColumn("rn", row_number().over(rank)).where(col("rn") > 1)
      }
    val rm = nonFirst
      .select(col("doc_id"), explode(sequence(col("pos"), col("pos") + L - 1))
        .as("rmpos"))
      .distinct()
    val kept = toks.join(rm,
      toks("doc_id") === rm("doc_id") && toks("pos") === rm("rmpos"), "left_anti")
    val rebuilt = kept.groupBy(col("doc_id"))
      .agg(
        concat_ws(" ", transform(
          array_sort(collect_list(struct(col("pos"), col("w")))),
          s => s("w"))).as("text_dedup"),
        count(lit(1)).as("kept_tokens"))
    // removed counts come from the (small) removal set itself — no
    // third tokenize of the corpus; the id-only scan restores
    // fully-deduplicated docs with an empty rebuild
    val rmCounts = rm.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("removed_tokens"))
    docs.select(col(idCol).as("doc_id"))
      .join(rebuilt, Seq("doc_id"), "left")
      .join(rmCounts, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("text_dedup"), lit("")).as("text_dedup"),
        coalesce(col("kept_tokens"), lit(0L)).as("kept_tokens"),
        coalesce(col("removed_tokens"), lit(0L)).as("removed_tokens"))
  }

  /** Token-window chunking — the context-window shaping step before
    * tokenizer/trainer handoff (and the RAG indexing chunker): split
    * every document into windows of `size` tokens starting every
    * `stride` tokens (stride < size ⇒ overlapping chunks; the final
    * chunks may be shorter). Map-only: chunk starts are arithmetic on
    * the token count and each chunk is an array slice — no shuffle,
    * no window function, streams and batches alike.
    */
  def chunk(docs: org.apache.spark.sql.DataFrame, idCol: String,
            textCol: String, chunkTokens: Int, stride: Int): org.apache.spark.sql.DataFrame = {
    require(chunkTokens > 0 && stride > 0, "chunkTokens and stride must be positive")
    val ts = tokens(col(textCol))
    // last start: a chunk is emitted only if the PREVIOUS chunk didn't
    // already reach the document's end — otherwise it would be a
    // strict subset of its predecessor (a duplicate index entry /
    // duplicated training text). For stride >= chunkTokens this
    // reduces to the plain n-1 bound.
    val n = size(col("ts"))
    val hi = greatest(lit(0), least(n - 1, n - chunkTokens + stride - 1))
    docs.select(col(idCol).as("doc_id"), ts.as("ts"))
      .select(col("doc_id"), col("ts"),
        explode(when(size(col("ts")) > 0, sequence(lit(0), hi, lit(stride)))
          .otherwise(array().cast("array<int>"))).as("start"))
      .select(col("doc_id"),
        (col("start") / stride).cast("int").as("chunk_id"),
        col("start"),
        size(slice(col("ts"), col("start") + 1, lit(chunkTokens)))
          .cast("long").as("n_chunk_tokens"),
        md5(concat_ws(" ", slice(col("ts"), col("start") + 1, lit(chunkTokens)))
          .cast("binary")).as("chunk_md5"))
  }

  /** Streaming twin of [[windowDedup]]: every arriving document is
    * stripped of the tokens covered by any L-token window an
    * already-ingested STATIC corpus contains, and rebuilt in order.
    * Same stream-vs-static contract as [[stripSeenParagraphsStream]]
    * (the cross-batch state IS the corpus; within-stream repeats
    * pass — run the batch [[windowDedup]] over the accumulated corpus
    * for the keep-first pass). Works identically on a batch frame.
    *
    * Streaming shape: window keys are computed per doc from the token
    * ARRAY (no window function, so no per-doc sort in the streaming
    * plan); the corpus's distinct window-key set (16 bytes per
    * window) is the static side of a stream-static left join; one
    * update-mode regroup per doc collects the hit positions; the
    * rebuild is a map-only array projection on the aggregated row.
    * Same state caveat as the paragraph twin: feed unique doc ids or
    * watermark the input.
    */
  def stripSeenWindowsStream(corpus: org.apache.spark.sql.DataFrame,
                             stream: org.apache.spark.sql.DataFrame,
                             idCol: String, textCol: String,
                             windowTokens: Int): org.apache.spark.sql.DataFrame = {
    val L = windowTokens
    def windowKeys(ts: Column): Column =
      graft.functions.Grams.window_md5_keys(ts, L)
    val seenKeys = corpus
      .select(explode(windowKeys(tokens(coalesce(col(textCol), lit(""))))).as("wk"))
      .select(col("wk.key").as("k")).distinct()
    val agg = stream
      // null text coalesces to "" (size(null) = -1 would corrupt the
      // kept/removed counts) — same guard as the paragraph twin
      .select(col(idCol).as("doc_id"),
        tokens(coalesce(col(textCol), lit(""))).as("ts"))
      .select(col("doc_id"), col("ts"),
        explode_outer(windowKeys(col("ts"))).as("wk"))
      .join(seenKeys, col("wk.key") === col("k"), "left")
      .groupBy(col("doc_id"))
      .agg(first(col("ts")).as("ts"),
        collect_list(when(col("k").isNotNull, col("wk.pos"))).as("hitpos"))
    val cov = array_distinct(flatten(transform(col("hitpos"),
      p => sequence(p, p + L - 1))))
    agg
      .withColumn("__cov", cov)
      .select(col("doc_id"),
        concat_ws(" ", transform(
          filter(transform(col("ts"), (w, i) => struct(w.as("w"), i.as("i"))),
            s => !array_contains(col("__cov"), s("i"))),
          s => s("w"))).as("text_dedup"),
        (size(col("ts")) - size(col("__cov"))).cast("long").as("kept_tokens"),
        size(col("__cov")).cast("long").as("removed_tokens"))
  }

  /** Streaming twin of the paragraph hygiene pass: every arriving
    * document is stripped of the spans an already-ingested STATIC
    * corpus contains, and rebuilt in original order. The same
    * stream-vs-static contract as `Dedup.bloomNewDocsStream` — the
    * cross-batch state is the corpus, so within-stream repeats pass
    * (consistent with its documented semantics); run [[paragraphDedup]]
    * over the accumulated corpus for the batch keep-first pass.
    * Documents whose every span is corpus-seen disappear from the
    * output (nothing survives to regroup).
    *
    * Works identically on a batch DataFrame. Streaming shape: the
    * corpus span set is the static side of a stream-static left-anti
    * join — keyed on (xxhash64(span), span), the 8-byte prefix for
    * cheap compares and the span itself for exactness under hash
    * collisions, same guard as [[paragraphDedup]] — then one per-doc
    * regroup (update-mode aggregation keyed by doc id; each doc
    * arrives whole in one row, so every key finalizes in its own
    * micro-batch).
    *
    * State caveat: the per-doc aggregation has no watermark, so the
    * state store retains one entry per distinct doc id for the life
    * of the query, and a doc id RECURRING in a later micro-batch
    * merges into (not replaces) its earlier aggregate. For unbounded
    * streams, feed unique doc ids and bound retention with an
    * event-time watermark on the input before the call, or run the
    * batch [[paragraphDedup]] over the accumulated corpus instead.
    */
  def stripSeenParagraphsStream(corpus: org.apache.spark.sql.DataFrame,
                                stream: org.apache.spark.sql.DataFrame,
                                idCol: String, textCol: String,
                                delimiter: String): org.apache.spark.sql.DataFrame = {
    val quoted = java.util.regex.Pattern.quote(delimiter)
    val seen = corpus
      .select(explode(split(coalesce(col(textCol), lit("")), quoted)).as("para"))
      .select(xxhash64(col("para")).as("__h"), col("para")).distinct()
    stream
      .select(col(idCol).as("doc_id"),
        posexplode(split(coalesce(col(textCol), lit("")), quoted))
          .as(Seq("pos", "para")))
      .withColumn("__h", xxhash64(col("para")))
      .join(seen, Seq("__h", "para"), "left_anti")
      .groupBy(col("doc_id"))
      .agg(
        concat_ws(delimiter, transform(
          array_sort(collect_list(struct(col("pos"), col("para")))),
          s => s("para"))).as("text_dedup"),
        count(lit(1)).as("kept_paras"))
  }

  // ---- URL extraction / domain filtering (C4/RefinedWeb hygiene) ----
  // Patterns stay in the Java∩RE2 subset so the DuckDB oracle runs
  // the identical regexes.

  // path charset is the positive printable-ASCII class [!-~] — NOT
  // [^\s], whose \s differs between Java (includes \x0B) and RE2
  // (ASCII-only); [!-~] is bit-identical in both engines
  val urlRe = "https?://[A-Za-z0-9.-]+(?::[0-9]+)?(?:/[!-~]*)?"

  /** All URLs in the text, in order. */
  def urls(text: Column): Column =
    regexp_extract_all(text, lit(urlRe), lit(0))

  /** Host part of a URL. */
  def urlDomain(url: Column): Column =
    regexp_extract(url, "https?://([A-Za-z0-9.-]+)", 1)

  /** True when the URL's domain (or a parent domain) is blocklisted —
    * the UT1/C4-style domain filter. The blocklist broadcasts as an
    * array literal; matching is one codegen projection.
    */
  def domainBlocked(domain: Column, blocklist: Seq[String]): Column =
    blocklist.map(b => domain === b || domain.endsWith("." + b))
      .foldLeft(lit(false))(_ || _) // empty blocklist blocks nothing

  // ---- Gopher rule pack (Rae et al. 2021, appendix A1.1) ----
  // The full repetition-independent rule set as map-only codegen
  // Columns; dupLineFrac/bigramDupFrac above cover the repetition
  // family. Every rule is also expressible in ANSI SQL, so the pack
  // carries a full DuckDB oracle (q_text_gopher).

  /** Symbol-to-word ratio: '#' and '...' occurrences per token. */
  def symbolWordRatio(text: Column): Column =
    stat(text, TS.IDX_SYMBOLS).cast("double") /
      greatest(tokenCount(text), lit(1L)).cast("double")

  /** Fraction of lines starting with a bullet ('-', '*', '•'). */
  def bulletLineFrac(text: Column): Column =
    when(stat(text, TS.IDX_LINES) > 0,
      stat(text, TS.IDX_BULLET).cast("double") /
        stat(text, TS.IDX_LINES).cast("double"))
      .otherwise(lit(0.0))

  /** Fraction of lines ending with an ellipsis ("..." or '…'). */
  def ellipsisLineFrac(text: Column): Column =
    when(stat(text, TS.IDX_LINES) > 0,
      stat(text, TS.IDX_ELLIPSIS).cast("double") /
        stat(text, TS.IDX_LINES).cast("double"))
      .otherwise(lit(0.0))

  /** Fraction of tokens containing ≥1 alphabetic character. */
  def alphaWordFrac(text: Column): Column =
    when(stat(text, TS.IDX_TOKENS) > 0,
      stat(text, TS.IDX_ALPHA_WORDS).cast("double") /
        stat(text, TS.IDX_TOKENS).cast("double"))
      .otherwise(lit(0.0))

  /** Number of DISTINCT stopwords of the language present. Gopher's
    * "contains at least 2 of a small function-word list" rule.
    * (Kernel-counted for "en" — the Gopher pack's language; other
    * languages keep the array_intersect form.)
    */
  def stopwordHits(text: Column, lang: String = "en"): Column =
    if (lang == "en") stat(text, TS.IDX_SW_DISTINCT_EN)
    else // array_intersect already returns distinct elements
      size(array_intersect(tokens(text), typedlit(stopwords(lang)))).cast("long")

  /** The Gopher keep/drop verdict with that paper's published bounds:
    * 50 ≤ words ≤ 100k, 3 ≤ mean word length ≤ 10, symbol ratio
    * ≤ 0.1, bullet lines ≤ 90 %, ellipsis lines ≤ 30 %, ≥80 % of
    * words alphabetic, ≥2 stopwords. One codegen projection — the
    * whole pack is shuffle-free and composes with the repetition
    * metrics for the complete filter.
    */
  def gopherKeep(text: Column): Column =
    tokenCount(text).between(50L, 100000L) &&
      meanWordLen(text).between(3.0, 10.0) &&
      (symbolWordRatio(text) <= 0.1) &&
      (bulletLineFrac(text) <= 0.9) &&
      (ellipsisLineFrac(text) <= 0.3) &&
      (alphaWordFrac(text) >= 0.8) &&
      (stopwordHits(text) >= 2L)

  /** DSIR data selection (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling"): score every raw
    * document by how target-like its hashed-unigram distribution is —
    * the mean over its tokens of the smoothed log-likelihood ratio
    *   ln( p_target(bucket(w)) / p_raw(bucket(w)) )
    * with add-α smoothing over `buckets` hashed feature buckets.
    * High scores = looks like the target domain; resample the corpus
    * proportionally (or gate on a threshold) to shift its mixture.
    * The bucket hash is the md5-prefix integer (engine-portable, same
    * construction as [[samplingBucket]]), so the DuckDB oracle replays
    * the exact pipeline.
    *
    * Scale shape: the two bucket-count aggregations shuffle (term-
    * hashed keys) but OUTPUT ≤ `buckets` rows each; the weight table
    * (≤ `buckets` rows, bounded by the caller's constant — default
    * 256) is collected and re-broadcast as a map literal, so scoring
    * is a single map-only codegen projection over the corpus: no
    * posting explode, no per-doc regroup, zero corpus-sized shuffles.
    * The collect is the same documented intentional pattern as the
    * IVF centroid pull — driver traffic is O(buckets), independent of
    * corpus size.
    */
  def dsirScores(raw: org.apache.spark.sql.DataFrame,
                 target: org.apache.spark.sql.DataFrame,
                 idCol: String, textCol: String,
                 buckets: Int = 256, alpha: Double = 0.5): org.apache.spark.sql.DataFrame = {
    def bucket(term: Column): Column =
      pmod(graft.functions.TextHashFunctions.hex_slice_long(md5(term), 1),
        lit(buckets.toLong))
    def bucketCounts(docs: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      docs.select(explode(tokens(col(textCol))).as("w"))
        .groupBy(bucket(col("w")).as("b")).agg(count(lit(1)).as("c"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val tc = bucketCounts(target)
    val rc = bucketCounts(raw)
    val tTot = tc.values.sum.toDouble
    val rTot = rc.values.sum.toDouble
    // dense weight vector indexed by bucket — rides into the one-pass
    // codegen scorer (r21: the per-token md5 + map lookup previously
    // ran as an interpreted aggregate(transform(...)) fold; the kernel
    // sums the identical weights in the identical token order)
    val warr: Array[Double] = Array.tabulate(buckets) { bi =>
      val b = bi.toLong
      val pt = (tc.getOrElse(b, 0L) + alpha) / (tTot + alpha * buckets)
      val pr = (rc.getOrElse(b, 0L) + alpha) / (rTot + alpha * buckets)
      math.log(pt / pr)
    }
    val n = tokenCount(col(textCol))
    // `+ 0.0` maps a rounded -0.0 to 0.0 (IEEE: -0.0 + 0.0 = 0.0), so
    // the score's sign of zero is the same on every engine
    raw.select(col(idCol).as("doc_id"),
      n.as("n_tokens"),
      (round(when(n > 0,
        graft.functions.TextStatsFunctions.dsir_sum(col(textCol), warr) /
          n.cast("double"))
        .otherwise(lit(0.0)), 4) + lit(0.0)).as("dsir_logratio"))
  }

  /** Corpus-wide paragraph-level exact dedup (the Dolma/C4 hygiene
    * step): the corpus is split into paragraphs (`delimiter` — "\n\n"
    * in production; any span separator works), each distinct paragraph
    * keeps only its FIRST occurrence corpus-wide (ordered by doc id,
    * then position), and every document is rebuilt from its surviving
    * paragraphs in original order. Unlike [[stripBoilerplate]] (which
    * removes only high-document-frequency spans everywhere), this
    * removes the second-and-later copies of ANY repeated span while
    * the first copy survives.
    *
    * Returns per doc: the rebuilt text, kept/removed paragraph counts.
    *
    * Scale shape: exactly two corpus-sized shuffles, both unavoidable
    * for these semantics — (1) the keep-first rank partitions by the
    * paragraph (keyed by its 64-bit xxhash so partitioner compares are
    * cheap; the paragraph itself stays in the key to keep the rank
    * exact under hash collisions), (2) the rebuild regroups by doc id.
    * No driver-side state, no broadcast, no window over an
    * unpartitioned frame; skew on a mega-duplicated paragraph is
    * bounded because the rank sort within one key is a streaming
    * row_number, not a collect.
    */
  def paragraphDedup(docs: org.apache.spark.sql.DataFrame, idCol: String,
                     textCol: String, delimiter: String,
                     skewSafe: Boolean = false): org.apache.spark.sql.DataFrame = {
    val paras = docs.select(col(idCol).as("doc_id"),
      posexplode(split(coalesce(col(textCol), lit("")),
        java.util.regex.Pattern.quote(delimiter))).as(Seq("pos", "para")))
    // `skewSafe` mirrors [[windowDedup]]'s keep-first strategy choice:
    // default per-key row_number (fastest when no span is
    // pathologically duplicated); the min-agg + join variant turns a
    // mega-duplicated span's single-reducer sort into map-side
    // combine + an AQE-skew-splittable join, recomputing the (cheap —
    // split + posexplode, no window function) span derivation twice.
    val flagged =
      if (skewSafe) {
        val firstOcc = paras
          .groupBy(xxhash64(col("para")).as("__h"), col("para"))
          .agg(min(struct(col("doc_id"), col("pos"))).as("first"))
          .select(col("__h"), col("para"), col("first"))
        paras.withColumn("__h", xxhash64(col("para")))
          .join(firstOcc, Seq("__h", "para"))
          .withColumn("rn",
            when(struct(col("doc_id"), col("pos")) === col("first"), 1).otherwise(2))
      } else {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(xxhash64(col("para")), col("para"))
          .orderBy(col("doc_id"), col("pos"))
        paras.withColumn("rn", row_number().over(w))
      }
    flagged
      .groupBy(col("doc_id"))
      .agg(
        concat_ws(delimiter, transform(
          array_sort(collect_list(when(col("rn") === 1,
            struct(col("pos"), col("para"))))),
          s => s("para"))).as("text_dedup"),
        count(when(col("rn") === 1, 1)).as("kept_paras"),
        count(when(col("rn") > 1, 1)).as("removed_paras"))
  }

  /** Corpus drift report between two snapshots: the per-token view of
    * "did the token distribution move" — the statistical sibling of
    * [[graft.operators.Dedup.corpusDiff]] (that one answers WHICH
    * documents changed; this one answers whether the LANGUAGE of the
    * corpus changed, which is what a training-mixture owner actually
    * monitors across monthly crawls). Per token: counts and relative
    * frequencies on each side, the frequency delta, and the token's
    * Jensen-Shannon divergence contribution js_part =
    * ½·p·ln(p/m) + ½·q·ln(q/m) with m = (p+q)/2 — JS rather than
    * KL because a token absent from one side contributes a FINITE
    * term (KL diverges), so no smoothing constant to tune; natural
    * log because ln is the one log both engines compute identically
    * (the perplexity-oracle precedent), so summing js_part over the
    * vocabulary gives total JS ∈ [0, ln 2] nats.
    * Rows rank by the cross-multiplied INTEGER count difference
    * |n1·N2 − n2·N1| in decimal(38,0) (exact at any corpus size —
    * long cross-products overflow near 2e13 tokens/side and ANSI mode
    * would throw; engine-stable ordering, no FP ties), token
    * ascending, truncated to topN.
    *
    * Scale shape: each corpus is scanned ONCE (structurally: the
    * merged vocab table is localCheckpoint'd before the totals and
    * the report both read it — exchange reuse does not dedupe twin
    * agg subtrees) and folds map-side to its vocabulary (explode +
    * partial-agg'd count); the only shuffle payload is the two vocab
    * tables, whose full-outer join is vocab-bounded; the two grand
    * totals derive from the merged table and broadcast back. The
    * corpus text never shuffles — at 100 TB the drift report costs
    * two scans and a vocabulary-sized join.
    */
  def driftReport(v1: DataFrame, v2: DataFrame, textCol: String,
                  topN: Int = 30): DataFrame = {
    require(topN >= 1, s"topN must be >= 1, got $topN")
    def vocab(df: DataFrame, n: String): DataFrame =
      df.select(explode(tokens(col(textCol))).as("token"))
        .groupBy(col("token")).agg(count(lit(1)).as(n))
    // the vocab-bounded joined table feeds two branches (the grand
    // totals and the per-token report) — materialize it once so each
    // corpus is scanned exactly ONCE (the prCurve pattern; exchange
    // reuse does NOT dedupe duplicate agg subtrees, measured on the
    // final plan), and the totals cannot drift from the per-token
    // counts they normalize
    val merged = vocab(v1, "n1").join(vocab(v2, "n2"), Seq("token"), "full_outer")
      .select(col("token"),
        coalesce(col("n1"), lit(0L)).as("n1"),
        coalesce(col("n2"), lit(0L)).as("n2"))
      .localCheckpoint(true)
    val totals = merged.agg(
      coalesce(sum(col("n1")), lit(0L)).as("t1"),
      coalesce(sum(col("n2")), lit(0L)).as("t2"))
    val joined = merged.crossJoin(broadcast(totals))
    val p = col("n1").cast("double") / greatest(col("t1"), lit(1L))
    val q = col("n2").cast("double") / greatest(col("t2"), lit(1L))
    val m = (p + q) / 2.0
    // a side with zero count contributes 0 to its JS half (x·ln x → 0)
    def half(x: org.apache.spark.sql.Column) =
      when(x > 0, x * log(x / m) / 2.0).otherwise(lit(0.0))
    // rank in decimal(38,0): n·N cross-products overflow Long around
    // ~2e13 tokens/side (exactly the 100 TB scale this targets), and
    // Spark 4's default ANSI mode would throw on the wrap
    val dec = "decimal(38,0)"
    joined
      .select(col("token"), col("n1"), col("n2"),
        round(p, 8).as("p1"), round(q, 8).as("p2"),
        round(q - p, 8).as("delta"),
        round(half(p) + half(q), 8).as("js_part"),
        abs(col("n1").cast(dec) * col("t2") -
          col("n2").cast(dec) * col("t1")).as("_dr_rank"))
      .orderBy(col("_dr_rank").desc, col("token"))
      .limit(topN)
      .drop("_dr_rank")
  }
}
