package graft

import graft.operators.TextOps
import org.apache.spark.sql.functions._

/** Text-analysis operator contracts (SURVEY §2.9). */
class TextOpsSpec extends SparkSuite {

  test("codegen langId agrees with the HOF reference on real documents") {
    val docs = Tables(spark, sf, "documents")
    val diff = docs.select(
      TextOps.langId(col("text")).as("a"),
      TextOps.langIdReference(col("text")).as("b"))
      .where(col("a") =!= col("b")).count()
    assert(diff == 0, "kernel and reference langId diverge")
  }

  test("text-stats kernel agrees with the HOF/regex forms on real docs and edge cases") {
    import graft.functions.{TextStats => TS}
    val docs = Tables(spark, sf, "documents").select(col("text"))
    // adversarial inputs: unicode whitespace lookalikes (NBSP is NOT
    // Java \s), vertical tab (IS \s), CRLF lines, space-only lines,
    // unicode bullets/ellipses, dot runs ("...." is ONE symbol match),
    // mixed-language stopwords, case folding, empty/blank strings
    val edge = spark.createDataFrame(Seq(
      Tuple1(""), Tuple1(" "), Tuple1("\t\r\n"), Tuple1(" "),
      Tuple1("the THE The tHe"), Tuple1("der und die la el 的"),
      Tuple1("a.... b... ## #"), Tuple1("  - bullet\n\t- tab bullet\n• dot\n   \nx…\ny... \nz.."),
      Tuple1("Ünïcødé wörds ÉÀ 你好 的 在"), Tuple1("1234 !!! ??? ,,,"),
      Tuple1("word glued nbsp"), Tuple1("trailing spaces   "),
      Tuple1("...."), Tuple1("#"), Tuple1("\n\n\n"), Tuple1("x\ny\nx\ny\nx"),
      // CRLF + ellipsis: "x...\r" must NOT count as an ellipsis line —
      // the kernel (like the RE2 oracle) requires the dots at the true
      // end of the 0x20-trimmed line, unlike Java's $ which matches
      // before a final \r (ADVICE r21: documented divergence)
      Tuple1("x...\r\ny… \nz...\nw...\r")
    )).toDF("text")
    val all = docs.unionByName(edge)
    val st = graft.functions.TextStatsFunctions.text_stats(col("text"))
    val ts = TextOps.tokens(col("text"))
    val ls = filter(split(col("text"), "\n"), l => length(trim(l)) > 0)
    val hofSw = TS.langs.toSeq.map { l =>
      val sw = typedlit(TextOps.stopwords(l))
      (size(filter(ts, t => array_contains(sw, t))).cast("long"),
        st.getItem(TS.IDX_SW_BASE + TS.langs.indexOf(l)))
    }
    val checks = Seq(
      (length(col("text")).cast("long"), st.getItem(TS.IDX_CHARS)),
      (length(regexp_replace(col("text"), "[^A-Za-z]", "")).cast("long"),
        st.getItem(TS.IDX_ALPHA)),
      ((length(col("text")) - length(regexp_replace(col("text"), "[\\p{Punct}]", "")))
        .cast("long"), st.getItem(TS.IDX_PUNCT)),
      (size(ts).cast("long"), st.getItem(TS.IDX_TOKENS)),
      (length(array_join(ts, "")).cast("long"), st.getItem(TS.IDX_TOK_CHARS)),
      (size(filter(ts, t => t.rlike("[a-z]"))).cast("long"),
        st.getItem(TS.IDX_ALPHA_WORDS)),
      (size(regexp_extract_all(col("text"), lit("#|\\.\\.\\."), lit(0))).cast("long"),
        st.getItem(TS.IDX_SYMBOLS)),
      (size(ls).cast("long"), st.getItem(TS.IDX_LINES)),
      (size(filter(ls, l => substring(ltrim(l), 1, 1).isin("-", "*", "•")))
        .cast("long"), st.getItem(TS.IDX_BULLET)),
      // \z (absolute end), not $: Java's $ also matches before a final
      // \r, which the kernel and the RE2-based oracle deliberately do
      // not count (ADVICE r21 — the old $ form was the outlier)
      (size(filter(ls, l => rtrim(l).rlike("(\\.\\.\\.|…)\\z"))).cast("long"),
        st.getItem(TS.IDX_ELLIPSIS)),
      (size(array_intersect(ts, typedlit(TextOps.stopwords("en")))).cast("long"),
        st.getItem(TS.IDX_SW_DISTINCT_EN))
    ) ++ hofSw
    checks.zipWithIndex.foreach { case ((hof, kernel), i) =>
      val bad = all.select(col("text"), hof.as("hof"), kernel.as("kernel"))
        .where(col("hof") =!= col("kernel"))
      val rows = bad.take(3)
      assert(rows.isEmpty,
        s"field $i diverges: ${rows.map(_.toString).mkString(" | ")}")
    }
  }

  test("dsir kernel sum is bit-identical to the interpreted HOF fold") {
    val buckets = 256
    val w = Array.tabulate(buckets)(i => math.log((i + 1.0) / (buckets - i + 0.5)))
    val wmap = typedlit(w.zipWithIndex.map { case (v, i) => i.toLong -> v }.toMap)
    def bucket(t: org.apache.spark.sql.Column) =
      pmod(graft.functions.TextHashFunctions.hex_slice_long(md5(t), 1),
        lit(buckets.toLong))
    val ts = TextOps.tokens(col("text"))
    val hof = aggregate(transform(ts, t => element_at(wmap, bucket(t))),
      lit(0.0), (acc, x) => acc + x)
    val all = Tables(spark, sf, "documents").select(col("text"))
      .unionByName(spark.createDataFrame(Seq(
        Tuple1(""), Tuple1("   "), Tuple1("ONE token"), Tuple1("Ünïcødé 的 mix")
      )).toDF("text"))
    val diff = all.select(hof.as("h"),
      graft.functions.TextStatsFunctions.dsir_sum(col("text"), w).as("k"))
      .where(col("h") =!= col("k")).count()
    assert(diff == 0, "dsir kernel and HOF fold diverge")
  }

  test("quality score stays in [0,1] and rewards clean English text") {
    val docs = Tables(spark, sf, "documents")
    val qs = docs.select(TextOps.qualityScore(col("text")).as("q"))
    assert(qs.where(col("q") < 0 || col("q") > 1).count() == 0)
    val clean = spark.sql(
      "SELECT 'the quick brown fox jumps over the lazy dog and it is fine that way for all of the animals in the field today' AS text")
    val junk = spark.sql("SELECT '###!!! @@@@ ;;; ^^^ %%% $$$ !!!' AS text")
    val qClean = clean.select(TextOps.qualityScore(col("text"))).first().getDouble(0)
    val qJunk = junk.select(TextOps.qualityScore(col("text"))).first().getDouble(0)
    assert(qClean > qJunk + 0.3, s"clean=$qClean junk=$qJunk")
  }

  test("prCurve: hand-computed sweep; clamping and empty conventions") {
    import spark.implicits._
    import graft.operators.TextOps
    // buckets at steps=4: 0.9→3, 0.8→3, 0.6→2, 0.2→0; positives = 2
    val scored = Seq((0.9, true), (0.8, false), (0.6, true), (0.2, false))
      .toDF("score", "y")
    val rows = TextOps.prCurve(scored, "score", "y", steps = 4)
      .orderBy(col("threshold")).collect()
    assert(rows.length == 4)
    assert(rows(0).getDouble(0) == 0.0 && rows(0).getLong(1) == 4 &&
      rows(0).getLong(2) == 2 && rows(0).getDouble(3) == 0.5 &&
      rows(0).getDouble(4) == 1.0 && rows(0).getDouble(5) == 0.666667)
    assert(rows(1).getLong(1) == 3 && rows(1).getDouble(3) == 0.666667 &&
      rows(1).getDouble(5) == 0.8)
    assert(rows(3).getLong(1) == 2 && rows(3).getLong(2) == 1 &&
      rows(3).getDouble(3) == 0.5 && rows(3).getDouble(4) == 0.5 &&
      rows(3).getDouble(5) == 0.5)
    // all-negative corpus: recall 0 everywhere by convention, and a
    // score of exactly 1.0 clamps into the top bucket (never drops)
    val neg = Seq((1.0, false)).toDF("score", "y")
    val nr = TextOps.prCurve(neg, "score", "y", steps = 4)
      .orderBy(col("threshold")).collect()
    assert(nr.forall(_.getDouble(4) == 0.0))
    assert(nr.last.getLong(1) == 1)
    // negative-score convention: kept by NO nonnegative threshold —
    // exactly what `score >= t` does — yet its positive label still
    // counts in the recall denominator (deliberately NOT the
    // clamp-into-bin-0 convention calibration uses)
    val below = Seq((-0.5, true), (0.9, true)).toDF("score", "y")
    val br = TextOps.prCurve(below, "score", "y", steps = 4)
      .orderBy(col("threshold")).collect()
    assert(br.forall(r => r.getLong(1) == 1 && r.getLong(2) == 1),
      "a negative score must be kept by no threshold")
    assert(br.forall(_.getDouble(4) == 0.5),
      "the negative-score positive still counts as a missed positive")
  }

  test("calibration: hand-computed bins; out-of-range scores clamp") {
    import spark.implicits._
    import graft.operators.TextOps
    // bin at bins=2: 0.1→0, 0.9→1, 1.2 clamps→1, -0.3 clamps→0
    val scored = Seq((0.1, false), (0.9, true), (1.2, true), (-0.3, false))
      .toDF("score", "y")
    val rows = TextOps.calibration(scored, "score", "y", bins = 2)
      .orderBy(col("bin_lo")).collect()
    assert(rows.length == 2)
    assert(rows(0).getDouble(0) == 0.0 && rows(0).getLong(1) == 2 &&
      rows(0).getDouble(2) == -0.1 && rows(0).getDouble(3) == 0.0 &&
      rows(0).getDouble(4) == 0.1)
    assert(rows(1).getDouble(0) == 0.5 && rows(1).getLong(1) == 2 &&
      rows(1).getDouble(2) == 1.05 && rows(1).getDouble(3) == 1.0 &&
      rows(1).getDouble(4) == 0.05)
  }

  test("splitAssign: deterministic, partitioned, weight-normalized, ~proportional") {
    import spark.implicits._
    import graft.operators.TextOps
    val ids = spark.range(10000).toDF("id")
    val w = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
    val counts = ids.select(TextOps.splitAssign(col("id"), w).as("s"))
      .groupBy("s").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts.keySet == Set("train", "val", "test")) // total partition
    assert(counts.values.sum == 10000)
    assert(math.abs(counts("train") - 8000) < 200, counts.toString)
    assert(math.abs(counts("val") - 1000) < 150, counts.toString)
    // unnormalized weights give the identical split (8:1:1 == .8:.1:.1)
    val c2 = ids.select(TextOps.splitAssign(col("id"),
        Seq("train" -> 8.0, "val" -> 1.0, "test" -> 1.0)).as("s"))
      .groupBy("s").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(c2 == counts)
    // membership is stable: a grown corpus keeps old ids in old splits
    val small = spark.range(100).toDF("id")
      .select(col("id"), TextOps.splitAssign(col("id"), w).as("s"))
    val grown = spark.range(10000).toDF("id")
      .select(col("id"), TextOps.splitAssign(col("id"), w).as("s"))
      .where(col("id") < 100)
    assert(small.exceptAll(grown).isEmpty && grown.exceptAll(small).isEmpty)
  }

  test("prCurve and calibration on an empty frame: conventions hold") {
    import spark.implicits._
    import graft.operators.TextOps
    val empty = Seq.empty[(Double, Boolean)].toDF("score", "y")
    val pr = TextOps.prCurve(empty, "score", "y", steps = 5)
      .orderBy(col("threshold")).collect()
    assert(pr.length == 5)
    assert(pr.forall(r => r.getLong(1) == 0L && r.getLong(2) == 0L &&
      r.getDouble(3) == 1.0 && r.getDouble(4) == 0.0 && r.getDouble(5) == 0.0))
    assert(TextOps.calibration(empty, "score", "y").collect().isEmpty)
  }

  test("rocAuc: hand-computed groups — separation, tie averaging, single-class null") {
    import spark.implicits._
    import graft.operators.TextOps
    val scored = Seq(
      // perfect separation → 1.0
      ("a", 0.9, true), ("a", 0.8, true), ("a", 0.3, false), ("a", 0.1, false),
      // 3 of 4 pos/neg pairs ordered correctly → 0.75
      ("d", 0.8, true), ("d", 0.4, true), ("d", 0.6, false), ("d", 0.2, false),
      // a pos/neg tie at 0.5 counts 1/2 → (2 + 1.5)/4 = 0.875
      ("t", 0.9, true), ("t", 0.5, true), ("t", 0.5, false), ("t", 0.1, false),
      // single class → AUC undefined (null), counts still reported
      ("c", 0.7, true), ("c", 0.6, true)
    ).toDF("source", "score", "y")
    val rows = TextOps.rocAuc(scored, "source", "score", "y")
      .collect().map(r => r.getString(0) -> r).toMap
    assert(rows.keySet == Set("a", "d", "t", "c"))
    assert(rows("a").getDouble(3) == 1.0)
    assert(rows("d").getDouble(3) == 0.75)
    assert(rows("t").getDouble(3) == 0.875)
    assert(rows("c").isNullAt(3) &&
      rows("c").getLong(1) == 2 && rows("c").getLong(2) == 0)
    assert(rows("a").getLong(1) == 2 && rows("a").getLong(2) == 2)
    // unlabeled rows are excluded, not counted as negatives: adding
    // null-label rows to group "a" must not move its AUC or counts
    val withNulls = scored.unionByName(Seq(
      ("a", 0.95, None: Option[Boolean]), ("a", 0.05, None: Option[Boolean]))
      .toDF("source", "score", "y"))
    val a2 = TextOps.rocAuc(withNulls, "source", "score", "y")
      .collect().map(r => r.getString(0) -> r).toMap.apply("a")
    assert(a2.getDouble(3) == 1.0 && a2.getLong(1) == 2 && a2.getLong(2) == 2)
  }

  test("tokenBudgetSample: greedy (score desc, id) prefix per group, budget never exceeded") {
    import spark.implicits._
    import graft.operators.TextOps
    val docsDf = Seq(
      (1L, "g1", 4L, 0.9), (2L, "g1", 5L, 0.8),
      (3L, "g1", 3L, 0.7), (4L, "g1", 2L, 0.6),
      (10L, "g2", 6L, 0.5), (11L, "g2", 6L, 0.5), (12L, "g2", 6L, 0.5),
      (20L, "g3", 1L, 0.1)
    ).toDF("id", "grp", "tok", "sc")
    val budgets = Seq(("g1", 10L), ("g2", 12L)).toDF("grp", "budget")
    val out = TextOps.tokenBudgetSample(docsDf, "id", "grp", "tok", "sc", budgets)
    val kept = out.collect().map(r => r.getLong(0) -> r.getLong(4)).toMap
    // g1: 1 (cum 4), 2 (cum 9); 3 would reach 12 > 10, and the running
    // sum is monotone so everything after the first overflow drops too
    // — the kept set is a true prefix of the greedy order.
    // g2: score ties break by id — 10 (cum 6), 11 (cum 12 = budget,
    // kept); 12 overflows. g3: no budget row → dropped entirely.
    assert(kept == Map(1L -> 4L, 2L -> 9L, 10L -> 6L, 11L -> 12L))
    // the budgets side must broadcast — no sort-merge join
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("token counts: bpe proxy >= whitespace tokens on punctuated text") {
    val df = spark.sql("SELECT 'hello, world! it''s 42 degrees.' AS text")
    val r = df.select(TextOps.tokenCount(col("text")).as("ws"),
      TextOps.bpeTokenCount(col("text")).as("bpe")).first()
    assert(r.getLong(0) == 5)
    assert(r.getLong(1) > r.getLong(0))
  }

  test("pii redaction replaces emails, ips, phones with typed placeholders") {
    val df = spark.sql(
      "SELECT 'mail a.b@x.co or b_c%d@y.org, ip 10.0.0.1, call 555-123-4567 now' AS text")
    val r = df.select(
      TextOps.piiRedact(col("text")).as("red"),
      TextOps.piiCount(col("text"), TextOps.piiEmailRe).as("e"),
      TextOps.piiCount(col("text"), TextOps.piiIpv4Re).as("i"),
      TextOps.piiCount(col("text"), TextOps.piiPhoneRe).as("p")).first()
    assert(r.getString(0) == "mail <EMAIL> or <EMAIL>, ip <IP>, call <PHONE> now")
    assert((r.getLong(1), r.getLong(2), r.getLong(3)) == ((2L, 1L, 1L)))
  }

  test("pii: phone redacts before the ip pattern can eat its digits") {
    val df = spark.sql("SELECT 'x 555-123-4567 y' AS text")
    assert(df.select(TextOps.piiRedact(col("text"))).first().getString(0) ==
      "x <PHONE> y")
  }

  test("repetition: duplicate lines and bigrams are fractioned correctly") {
    val df = spark.sql(
      "SELECT 'one two\none two\nthree four' AS a, 'x y x y x y' AS b")
    val r = df.select(
      TextOps.dupLineFrac(col("a")).as("dl"),
      TextOps.bigramDupFrac(col("b")).as("db"),
      TextOps.dupLineFrac(lit("")).as("empty")).first()
    // 3 lines, one repeats -> 1/3; bigrams: [x y, y x, x y, y x, x y] -> 3 dup of 5
    assert(math.abs(r.getDouble(0) - 1.0 / 3) < 1e-9)
    assert(math.abs(r.getDouble(1) - 3.0 / 5) < 1e-9)
    assert(r.getDouble(2) == 0.0)
  }

  test("wordGrams: n-gram windows and the short-text guard") {
    val df = spark.sql("SELECT 'a b c d' AS text")
    val grams = df.select(TextOps.wordGrams(col("text"), 3)).first().getSeq[String](0)
    assert(grams == Seq("a b c", "b c d"))
    val short = df.select(TextOps.wordGrams(lit("a b"), 3)).first().getSeq[String](0)
    assert(short.isEmpty)
  }

  test("kernel distinct-gram counts agree with the HOF wordGrams on real docs") {
    val docs = Tables(spark, sf, "documents")
    val diff = docs.select(
      org.apache.spark.sql.functions.size(
        graft.operators.Dedup.shingleHashes(col("text"), 2)).as("kernel"),
      org.apache.spark.sql.functions.size(
        array_distinct(TextOps.wordGrams(col("text"), 2))).as("hof"),
      TextOps.wordGramCount(col("text"), 2).as("total"),
      TextOps.tokenCount(col("text")).as("toks"))
      .where(col("kernel") =!= col("hof") ||
        col("total") =!= greatest(col("toks") - 1, lit(0L)))
      .count()
    assert(diff == 0, "codegen kernel and HOF gram counts diverge")
  }

  test("sampling bucket is a stable per-mille md5 key") {
    val df = spark.sql("SELECT 'hello' AS text")
    // md5('hello') = 5d41402a... -> 0x5d41402a = 1564557354 -> % 1000
    assert(df.select(TextOps.samplingBucket(col("text"))).first().getLong(0) ==
      1564557354L % 1000)
  }

  test("boilerplate removal strips corpus-frequent lines, preserves order") {
    import spark.implicits._
    // "SUBSCRIBE NOW" appears in 3/4 docs (75% >= 50% threshold);
    // every other line is unique to its document
    val docs = Seq(
      (1L, "unique alpha\nSUBSCRIBE NOW\nunique beta"),
      (2L, "SUBSCRIBE NOW\nanother thing"),
      (3L, "totally different\nSUBSCRIBE NOW"),
      (4L, "no spam here at all")
    ).toDF("doc_id", "text")
    val out = TextOps.stripBoilerplate(docs, "doc_id", "text", "\n", 0.5)
      .orderBy("doc_id").collect()
    assert(out.map(_.getLong(1)).toSeq == Seq(1L, 1L, 1L, 0L), "removed counts")
    assert(out.map(_.getLong(2)).toSeq == Seq(2L, 1L, 1L, 1L), "kept counts")
    // cleaned text keeps original line order, boilerplate excised
    assert(out(0).getString(4) == "unique alpha\nunique beta")
    assert(out(1).getString(4) == "another thing")
    assert(out(2).getString(4) == "totally different")
    assert(out(3).getString(4) == "no spam here at all")
    // kept_chars = character mass of surviving lines
    assert(out(0).getLong(3) == "unique alpha".length + "unique beta".length)
  }

  test("boilerplate set broadcasts; the corpus side never broadcasts") {
    val docs = Tables(spark, sf, "documents").limit(200)
    val plan = TextOps.stripBoilerplate(docs, "doc_id", "text", " ", 0.5)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
      s"strip join should broadcast the boilerplate set:\n$plan")
  }

  test("paragraph dedup keeps the first occurrence corpus-wide, rebuilds in order") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "alpha\nbeta\ngamma"),
      (2L, "beta\ndelta"),        // beta already seen in doc 1
      (3L, "delta\nalpha\nepsilon"), // both seen
      (4L, "zeta")
    ).toDF("doc_id", "text")
    val out = TextOps.paragraphDedup(corpus, "doc_id", "text", "\n")
      .orderBy("doc_id")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq == Seq(
      (1L, "alpha\nbeta\ngamma", 3L, 0L),
      (2L, "delta", 1L, 1L),
      (3L, "epsilon", 1L, 2L),
      (4L, "zeta", 1L, 0L)))
  }

  test("paragraph dedup: a wholly duplicated document rebuilds to empty") {
    import spark.implicits._
    val corpus = Seq(
      (10L, "one\ntwo"),
      (20L, "one\ntwo") // every paragraph already claimed by doc 10
    ).toDF("doc_id", "text")
    val out = TextOps.paragraphDedup(corpus, "doc_id", "text", "\n")
      .orderBy("doc_id")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq == Seq(
      (10L, "one\ntwo", 2L, 0L),
      (20L, "", 0L, 2L)))
  }

  test("bigram perplexity matches the hand-computed add-k formula") {
    import spark.implicits._
    // corpus: d1 = "a b a b", d2 = "a b"
    //   uni: a=3 b=3, V=2, bi: (a,b)=3 (b,a)=1, k=0.5
    //   cost(a,b) = -ln(3.5/4) = 0.133531, cost(b,a) = -ln(1.5/4) = 0.980829
    val corpus = Seq((1L, "a b a b"), (2L, "a b")).toDF("doc_id", "text")
    val out = TextOps.lmPerplexity(corpus, "doc_id", "text", k = 0.5)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
    assert(out.length == 2)
    assert(out(0) == ((1L, 0.416, 3L)), s"d1: ${out(0)}")
    assert(out(1) == ((2L, 0.1335, 1L)), s"d2: ${out(1)}")
  }

  test("kneser-ney perplexity matches the hand-computed interpolation") {
    import spark.implicits._
    // corpus: d1 = "a b a b", d2 = "a c"
    //   uni a=3 b=2 c=1 (V=3); bi (a,b)=2 (b,a)=1 (a,c)=1 (3 types)
    //   N1+(a·)=2, N1+(b·)=1; N1+(·w)=1 each → Pcont = 1.5/4.5 = 1/3
    //   P(b|a)=1.25/3 + .75·2/3·(1/3) = 0.583333 → cost 0.538997
    //   P(a|b)=0.25/2 + .75·1/2·(1/3) = 0.25      → cost 1.386294
    //   P(c|a)=0.25/3 + .75·2/3·(1/3) = 0.25      → cost 1.386294
    //   d1 avg = (0.538997·2 + 1.386294)/3 = 0.8214; d2 = 1.3863
    val corpus = Seq((1L, "a b a b"), (2L, "a c")).toDF("doc_id", "text")
    val out = TextOps.lmPerplexityKN(corpus, "doc_id", "text")
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
    assert(out.length == 2)
    assert(out(0) == ((1L, 0.8214, 3L)), s"d1: ${out(0)}")
    assert(out(1) == ((2L, 1.3863, 1L)), s"d2: ${out(1)}")
  }

  test("kneser-ney discounts frequent-context mass toward diverse continuations") {
    import spark.implicits._
    // "san francisco" pattern: "francisco" appears often but ONLY after
    // "san"; "york" appears equally often after varied contexts. KN's
    // continuation probability penalizes francisco as a novel
    // continuation — add-k (frequency-only) cannot see the difference.
    // both novel bigrams occur exactly once with the same history, so
    // raw counts are identical — only Pcont separates them
    val docs = Seq.fill(20)("san francisco") ++
      Seq("new york", "old york", "west york", "east york", "port york") ++
      Seq("zzz francisco", "zzz york")
    val corpus = docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val kn = TextOps.lmPerplexityKN(corpus, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val novelFrancisco = docs.indexOf("zzz francisco").toLong
    val novelYork = docs.indexOf("zzz york").toLong
    assert(kn(novelFrancisco) > kn(novelYork),
      s"'zzz francisco' (${kn(novelFrancisco)}) must cost more than " +
        s"'zzz york' (${kn(novelYork)}) under KN — york has 6 distinct histories")
  }

  test("kn model persistence: save/load round-trips and scores identically") {
    import spark.implicits._
    val corpus = Seq("a b a b", "b c a").toDF("text")
    val m = TextOps.fitKnModel(corpus, "text")
    val dir = tempDir("kn_m").toString
    try {
      TextOps.saveKnModel(spark, m, dir)
      val back = TextOps.loadKnModel(spark, dir)
      assert(back.nTypes == m.nTypes && back.vocab == m.vocab &&
        back.discount == m.discount)
      val texts = Seq("a b", "b z", "z z", "c a b").toDF("t")
      val a1 = texts.select(graft.functions.KnFunctions.kn_bits(col("t"), m))
        .collect().map(_.getDouble(0))
      val a2 = texts.select(graft.functions.KnFunctions.kn_bits(col("t"), back))
        .collect().map(_.getDouble(0))
      assert(a1.toSeq == a2.toSeq)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("kn scorer: hand-computed backoff branches and agreement with the batch operator") {
    import spark.implicits._
    // model corpus "a b a b": uni a=2 b=2 (V=2); bi (a,b)=2 (b,a)=1
    // (2 types); Pcont(z)=1/6, Pcont(a)=Pcont(b)=1/2
    val score = TextOps.knScorer(Seq("a b a b").toDF("text"), "text")
    val out = Seq("a b", "b z", "z z", "solo")
      .toDF("t").select(score(col("t")).as("bits")).collect().map(_.getDouble(0))
    // P(b|a) = 1.25/2 + .75·(1/2)·(1/2) = 0.8125
    assert(math.abs(out(0) - -math.log(0.8125)) < 1e-9)
    // unseen continuation: P(z|b) = λ(b)·Pcont(z) = .375/6
    assert(math.abs(out(1) - -math.log(0.375 / 6.0)) < 1e-9)
    // unseen history: P(z|z) = Pcont(z) = 1/6
    assert(math.abs(out(2) - -math.log(1.0 / 6.0)) < 1e-9)
    assert(out(3) == 0.0) // one token → no bigrams
    // agreement with the distributed batch operator on the real corpus
    val docs = Tables(spark, sf, "documents").limit(100)
    val s2 = TextOps.knScorer(docs, "text")
    val served = docs.select(col("doc_id"), s2(col("text")).as("b"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val batch = TextOps.lmPerplexityKN(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    batch.foreach { case (id, b) =>
      assert(math.abs(served(id) - b) < 1e-3, s"doc $id: served ${served(id)} vs batch $b")
    }
    // the scorer is a map-only codegen projection
    val plan = docs.select(s2(col("text"))).queryExecution.executedPlan.toString
    assert(plan.contains("kn_bits") && !plan.contains("Exchange"))
  }

  test("kn3 serving scorer: hand-computed recursion including every backoff branch") {
    import spark.implicits._
    // model corpus "a b c a b c": tri types (a,b,c):2 (b,c,a):1 (c,a,b):1;
    // bigram types (a,b)(b,c)(c,a) → nTypes=3, V=3; every Pcont = 1/3,
    // Pcont(oov) = 1/9; all mid/top continuation counts = 1
    val m = TextOps.fitKn3Model(Seq("a b c a b c").toDF("text"), "text")
    // P2(c|b) = max(1−.75,0)/1 + .75·1·(1/3) = 0.5
    assert(math.abs(m.prob2("b", "c") - 0.5) < 1e-12)
    // full trigram: P3(c|a,b) = 1.25/2 + .75·(1/2)·0.5 = 0.8125
    assert(math.abs(m.prob3("a", "b", "c") - 0.8125) < 1e-12)
    // unseen trigram, seen history: P3 = λ·P2(z|b) = .375·(.75/9)
    assert(math.abs(m.prob3("a", "b", "z") - 0.375 * (0.75 / 9.0)) < 1e-12)
    // unseen history → order-2; unseen middle → continuation unigram
    assert(math.abs(m.prob3("z", "b", "c") - 0.5) < 1e-12)
    assert(math.abs(m.prob3("z", "z", "c") - 1.0 / 3.0) < 1e-12)
    // the kernel column agrees with the batch operator on real docs
    val docs = Tables(spark, sf, "documents").limit(80)
    val m2 = TextOps.fitKn3Model(docs, "text")
    val served = docs.select(col("doc_id"),
        graft.functions.KnFunctions.kn3_bits(col("text"), m2).as("b"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val batch = TextOps.lmPerplexityKN3(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    batch.foreach { case (id, b) =>
      assert(math.abs(served(id) - b) < 1e-3, s"doc $id: served ${served(id)} vs batch $b")
    }
  }

  test("kn scorer: document-final-only history backs off to continuation probability") {
    import spark.implicits._
    // regression: 'b' is in the unigram table but never STARTS a bigram
    // (no continuation mass at all) — the scorer must fall through to
    // Pcont exactly as for an unseen history, never emit P = 0
    val m = TextOps.fitKnModel(Seq("a b").toDF("text"), "text")
    // nTypes=1, V=2 → Pcont(a) = 0.5/2 = 0.25
    assert(math.abs(m.prob("b", "a") - 0.25) < 1e-12)
    assert(m.prob("b", "z") > 0.0 && m.prob("b", "b") > 0.0)
    val bits = Seq("a b a").toDF("t")
      .select(graft.functions.KnFunctions.kn_bits(col("t"), m)).first().getDouble(0)
    assert(java.lang.Double.isFinite(bits) && bits > 0.0)
  }

  test("serving fits fail fast past maxTypes; Int.MaxValue does not overflow") {
    import spark.implicits._
    val corpus = Seq("a b c d e f g h", "i j k l m n o p").toDF("text")
    val e = intercept[IllegalArgumentException](
      TextOps.fitKnModel(corpus, "text", maxTypes = 3))
    assert(e.getMessage.contains("maxTypes=3"))
    intercept[IllegalArgumentException](
      TextOps.fitKn3Model(corpus, "text", maxTypes = 3))
    // regression: limit(maxTypes + 1) overflowed to a negative limit
    val m = TextOps.fitKnModel(corpus, "text", maxTypes = Int.MaxValue)
    assert(m.vocab == 16L)
  }

  test("kn3 minCount: history denominator sums only surviving trigram counts") {
    import spark.implicits._
    // history (a,b) has trigrams c:3 d:1; minCount=2 prunes d, and the
    // denominator must shrink to 3 so discount mass redistributes —
    // P(c|a,b) + backoff-to-others stays a proper distribution
    val corpus = Seq("a b c", "a b c", "a b c", "a b d").toDF("text")
    val m = TextOps.fitKn3Model(corpus, "text", minCount = 2L)
    assert(m.c3.get("a b c").longValue() == 3L && m.c3.get("a b d") == null)
    assert(m.c2h.get("a b").longValue() == 3L,
      s"c2h must come from pruned types, got ${m.c2h.get("a b")}")
    // and at the default minCount=1 the pruned and raw denominators agree
    val m1 = TextOps.fitKn3Model(corpus, "text")
    assert(m1.c2h.get("a b").longValue() == 4L)
  }

  test("order-3 kneser-ney: typical text scores lower than scrambled; short docs drop") {
    import spark.implicits._
    val typical = (1L to 50L).map(i => (i, "the cat sat on the mat near the door"))
    val extra = Seq((90L, "door the near mat on sat the cat the"), // scrambled
      (91L, "two words"), (92L, "the cat sat")) // 0 and 1 trigrams
    val corpus = (typical ++ extra).toDF("doc_id", "text")
    val out = TextOps.lmPerplexityKN3(corpus, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toList
    val byId = out.map(r => r._1 -> r).toMap
    assert(!byId.contains(91L), "a 2-token doc has no trigrams")
    assert(byId(92L)._3 == 1L)
    assert(byId(90L)._2 > byId(1L)._2 + 0.5,
      s"scrambled ${byId(90L)._2} must cost more than typical ${byId(1L)._2}")
    // note: under SELF-training a novel doc's own trigrams carry
    // count-1-over-count-1 histories, so order-3 self-scores are
    // bounded below by the discount ratio — the order-2 model can
    // show a larger gap on fully-scrambled text. The cross-order
    // comparison is therefore not asserted; OOD detection is.
  }

  test("perplexity flags out-of-distribution word transitions") {
    import spark.implicits._
    val typical = (1L to 50L).map(i => (i, "the cat sat on the mat"))
    val weird = Seq((99L, "mat the on sat cat the"))
    val corpus = (typical ++ weird).toDF("doc_id", "text")
    val scores = TextOps.lmPerplexity(corpus, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(scores(99L) > scores(1L) + 0.5,
      s"reversed doc should be atypical: weird=${scores(99L)} typical=${scores(1L)}")
  }

  test("perplexity minCount prunes rare words to the smoothing floor") {
    import spark.implicits._
    // with minCount=2, 'z' (1 occurrence) is pruned: kept vocab {a,b},
    // V=2, kept bigrams (a,b)=3 (b,a)=1. d3's transitions:
    //   (a,z): c2=0, c1(a)=4  -> -ln(0.5/5)    = 2.302585
    //   (z,b): w1 pruned, c1=0 -> -ln(0.5/1)   = 0.693147 = ln(V)
    // avg = 1.497866 -> 1.4979
    val corpus = Seq((1L, "a b a b"), (2L, "a b"), (3L, "a z b")).toDF("doc_id", "text")
    val out = TextOps.lmPerplexity(corpus, "doc_id", "text", k = 0.5, minCount = 2)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(out(3L) == 1.4979, s"d3: ${out(3L)}")
    // and the default minCount=1 path is unchanged by the left joins
    val dflt = TextOps.lmPerplexity(corpus, "doc_id", "text", k = 0.5)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(dflt.keySet == Set(1L, 2L, 3L) && dflt.values.forall(!_.isNaN))
  }

  test("single-token and empty documents drop out of perplexity (no transitions)") {
    import spark.implicits._
    val corpus = Seq((1L, "hello world"), (2L, "hello"), (3L, "")).toDF("doc_id", "text")
    val ids = TextOps.lmPerplexity(corpus, "doc_id", "text")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids == Set(1L))
  }

  test("window dedup strips a repeated mid-document passage, keeps the first") {
    import spark.implicits._
    // docs 1 and 2 share the 4-token passage "p q r s" mid-document;
    // with L=3 its interior windows repeat, so doc 2 loses the passage
    val docs = Seq(
      (1L, "a b p q r s c d"),
      (2L, "x y p q r s z w")).toDF("doc_id", "text")
    val out = TextOps.windowDedup(docs, "doc_id", "text", windowTokens = 3)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    // doc 2: windows (p q r) and (q r s) are rank-2 -> tokens p,q,r,s removed
    assert(out.toSeq == Seq(
      (1L, "a b p q r s c d", 8L, 0L),
      (2L, "x y z w", 4L, 4L)))
  }

  test("window dedup: a wholly duplicated document rebuilds to empty") {
    import spark.implicits._
    val docs = Seq(
      (1L, "one two three four"),
      (2L, "one two three four")).toDF("doc_id", "text")
    val out = TextOps.windowDedup(docs, "doc_id", "text", windowTokens = 3)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq == Seq(
      (1L, "one two three four", 4L, 0L),
      (2L, "", 0L, 4L)))
  }

  test("window dedup: skewSafe min-agg strategy is equivalent to the rank strategy") {
    val docs = Tables(spark, sf, "documents").limit(200)
      .select(col("doc_id"),
        // plant a shared passage so the strategies have real work
        when(col("doc_id") < 40, concat(col("text"),
          lit(" nine token shared passage for the strategy equivalence test")))
          .otherwise(col("text")).as("text"))
    def run(skewSafe: Boolean) =
      TextOps.windowDedup(docs, "doc_id", "text", 8, skewSafe)
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
        .sortBy(_._1).toSeq
    assert(run(skewSafe = false) == run(skewSafe = true))
  }

  test("paragraph dedup: skewSafe strategy matches the rank strategy on real docs") {
    val docs = Tables(spark, sf, "documents").limit(200)
    def run(skewSafe: Boolean) =
      TextOps.paragraphDedup(docs, "doc_id", "text", " table ", skewSafe)
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
        .sortBy(_._1).toSeq
    assert(run(skewSafe = false) == run(skewSafe = true))
  }

  test("window dedup leaves short documents (< L tokens) untouched") {
    import spark.implicits._
    val docs = Seq((1L, "tiny doc"), (2L, "tiny doc")).toDF("doc_id", "text")
    val out = TextOps.windowDedup(docs, "doc_id", "text", windowTokens = 3)
      .orderBy("doc_id").collect()
      .map(r => (r.getString(1), r.getLong(3)))
    // no window of length 3 exists, so nothing can be removed
    assert(out.toSeq == Seq(("tiny doc", 0L), ("tiny doc", 0L)))
  }

  test("chunking: overlapping windows, short tail, empty doc drops out") {
    import spark.implicits._
    // 7 tokens, size 3 stride 2 -> starts 0,2,4 (the chunk at 6 would be
    // a strict subset of the one at 4, so it is not emitted)
    val docs = Seq((1L, "a b c d e f g"), (2L, "")).toDF("doc_id", "text")
    val out = TextOps.chunk(docs, "doc_id", "text", chunkTokens = 3, stride = 2)
      .orderBy("doc_id", "chunk_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3)))
    assert(out.toSeq == Seq(
      (1L, 0, 0, 3L), (1L, 1, 2, 3L), (1L, 2, 4, 3L)))
  }

  test("chunk start formula: full coverage, no contained chunks, for all n/size/stride") {
    import org.scalacheck.{Gen, Prop}
    import org.scalacheck.Test.{check, Parameters}
    val gen = for {
      n <- Gen.choose(1, 400); s <- Gen.choose(1, 100); st <- Gen.choose(1, 100)
    } yield (n, s, st)
    val prop = Prop.forAll(gen) { case (n, size, stride) =>
      // the operator's bound: greatest(0, least(n-1, n - size + stride - 1))
      val hi = math.max(0, math.min(n - 1, n - size + stride - 1))
      val starts = 0 to hi by stride
      val ends = starts.map(st => math.min(st + size, n))
      starts.nonEmpty && starts.head == 0 &&
        // overlapping mode (stride <= size) covers every token; with
        // stride > size the gaps between windows are intentional
        (stride > size || ends.last == n) &&
        starts.zip(ends).sliding(2).forall { // no chunk inside its predecessor
          case Seq((s1, e1), (s2, e2)) => s2 > s1 && e2 > e1
          case _ => true
        }
    }
    val res = check(Parameters.default.withMinSuccessfulTests(500), prop)
    assert(res.passed, res.status.toString)
  }

  test("chunking is map-only: no shuffle in the plan") {
    val docs = Tables(spark, sf, "documents")
    val plan = TextOps.chunk(docs, "doc_id", "text", 64, 48)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"chunking must not shuffle:\n$plan")
  }

  test("url ops: extraction, domains, blocklist incl. the empty list") {
    import spark.implicits._
    val df = Seq("go to https://sub.spam-site.com:8080/a/b?q=1 or http://ok.org now")
      .toDF("text")
    val r = df.select(explode(TextOps.urls(col("text"))).as("url"))
      .select(col("url"), TextOps.urlDomain(col("url")).as("d"))
      .withColumn("blocked", TextOps.domainBlocked(col("d"), Seq("spam-site.com")))
      .withColumn("never", TextOps.domainBlocked(col("d"), Seq.empty))
      .collect().map(r => (r.getString(0), r.getString(1), r.getBoolean(2), r.getBoolean(3)))
    assert(r.toSeq == Seq(
      ("https://sub.spam-site.com:8080/a/b?q=1", "sub.spam-site.com", true, false),
      ("http://ok.org", "ok.org", false, false)))
  }

  test("gopher rules: each rule trips on its designed pathology") {
    import spark.implicits._
    // 12 words / 47 chars per repeat -> 60 words, mean word len 3.92
    val clean = ("the quick brown fox jumps over the lazy dog while it waits " * 5).trim
    val df = Seq(
      ("clean", clean),
      ("bullets", clean + "\n- a\n- b\n- c\n- d\n- e\n- f\n- g\n- h\n- i\n- j\n- k"),
      ("symbols", clean + " " + ("### " * 20).trim),
      ("short", "too short"),
      ("numeric", (1 to 60).map(_.toString).mkString(" "))
    ).toDF("kind", "text")
    val r = df.select(col("kind"),
      TextOps.gopherKeep(col("text")).as("keep"),
      TextOps.bulletLineFrac(col("text")).as("bf"),
      TextOps.symbolWordRatio(col("text")).as("sr"),
      TextOps.alphaWordFrac(col("text")).as("af"))
      .collect().map(r => r.getString(0) -> r.getBoolean(1)).toMap
    assert(r("clean"), "clean 55-word text passes every rule")
    assert(!r("bullets"), "11 of 12 lines bulleted -> bullet_frac > 0.9")
    assert(!r("symbols"), "20 hashes on 75 words -> symbol ratio > 0.1")
    assert(!r("short"), "word count below 50")
    assert(!r("numeric"), "no alphabetic words, no stopwords")
  }

  test("gopher ellipsis rule counts terminal ... and … lines") {
    import spark.implicits._
    val df = Seq(("x", "read on...\nnormal line\nwait…\nplain")).toDF("k", "text")
    val v = df.select(TextOps.ellipsisLineFrac(col("text"))).first().getDouble(0)
    assert(math.abs(v - 0.5) < 1e-9, s"2 of 4 lines end in ellipsis: $v")
  }

  test("dsir scores target-like documents above off-target ones") {
    import spark.implicits._
    val target = (1L to 40L).map(i => (i, "the cat sat on the mat quietly"))
      .toDF("doc_id", "text")
    val raw = ((101L to 110L).map(i => (i, "the cat sat on the mat quietly")) ++
      (201L to 210L).map(i => (i, "der hund lief schnell durch den wald")))
      .toDF("doc_id", "text")
    val s = TextOps.dsirScores(raw, target, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(s(101L) > s(201L) + 0.5,
      s"target-like should score higher: like=${s(101L)} unlike=${s(201L)}")
    // deterministic: a second run reproduces the exact scores
    val s2 = TextOps.dsirScores(raw, target, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(s == s2)
  }

  test("dsir: empty documents score 0 with n_tokens 0") {
    import spark.implicits._
    val raw = Seq((1L, ""), (2L, "hello world")).toDF("doc_id", "text")
    val target = Seq((9L, "hello world")).toDF("doc_id", "text")
    val r = TextOps.dsirScores(raw, target, "doc_id", "text")
      .orderBy("doc_id").collect()
    assert(r(0).getLong(1) == 0L && r(0).getDouble(2) == 0.0)
  }

  test("dsir scoring is map-only: no shuffle after the weight map is built") {
    val docs = Tables(spark, sf, "documents")
    val plan = TextOps.dsirScores(docs, docs.where(col("lang") === "en"),
      "doc_id", "text").queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"scoring pass must be shuffle-free (weights are a map literal):\n$plan")
  }

  test("paragraph dedup: within-document repeats keep only the earliest position") {
    import spark.implicits._
    val corpus = Seq((5L, "x\ny\nx\nx\ny")).toDF("doc_id", "text")
    val r = TextOps.paragraphDedup(corpus, "doc_id", "text", "\n").first()
    assert(r.getString(1) == "x\ny")
    assert(r.getLong(2) == 2 && r.getLong(3) == 3)
  }

  test("gram kernels equal the HOF formulations they replaced — the oracle contract") {
    import spark.implicits._
    import graft.functions.Grams
    import graft.operators.TextOps
    val docs = Tables(spark, sf, "documents").limit(500)
      .select(TextOps.tokens(col("text")).as("ts"))
    // string bigrams ≡ transform(sequence)+concat_ws
    val s2 = docs.where(size($"ts") >= 2).select(
      Grams.gram_strings($"ts", 2).as("k"),
      transform(sequence(lit(0), size($"ts") - 2),
        i => concat_ws(" ", element_at($"ts", i + 1),
          element_at($"ts", i + 2))).as("h"))
    assert(s2.where($"k" =!= $"h").count() == 0)
    // struct trigrams ≡ the element_at struct build
    val t3 = docs.where(size($"ts") >= 3).select(
      Grams.gram_structs($"ts", Seq("w1", "w2", "w3")).as("k"),
      transform(sequence(lit(0), size($"ts") - 3),
        i => struct(element_at($"ts", i + 1).as("w1"),
          element_at($"ts", i + 2).as("w2"),
          element_at($"ts", i + 3).as("w3"))).as("h"))
    assert(t3.where($"k".cast("string") =!= $"h".cast("string")).count() == 0)
    // window md5 keys ≡ md5(concat_ws(' ', slice)) at every position
    val w = docs.where(size($"ts") >= 5).select(
      Grams.window_md5_keys($"ts", 5).as("k"),
      transform(sequence(lit(0), size($"ts") - 5),
        i => struct(i.as("pos"),
          md5(concat_ws(" ", slice($"ts", i + 1, lit(5)))).as("key"))).as("h"))
    assert(w.where($"k".cast("string") =!= $"h".cast("string")).count() == 0)
    // short inputs yield EMPTY (DuckDB range() semantics), never junk
    val short = Seq(Tuple1(Seq("a"))).toDF("ts")
    assert(short.select(size(Grams.gram_strings($"ts", 2))).first().getInt(0) == 0)
    assert(short.select(size(Grams.window_md5_keys($"ts", 3))).first().getInt(0) == 0)
    // all_gram_structs(n) ≡ the per-order gram_structs null-padded and
    // concatenated in order k = 1..n — the fused perplexity count pass
    // (r22) shuffles exactly the entries the per-order explodes did
    val nullStr = lit(null).cast("string")
    val a3 = docs.select(
      Grams.all_gram_structs($"ts", Seq("w1", "w2", "w3")).as("k"),
      concat(
        transform($"ts", w =>
          struct(w.as("w1"), nullStr.as("w2"), nullStr.as("w3"))),
        transform(Grams.gram_structs($"ts", Seq("a", "b")), g =>
          struct(g.getField("a").as("w1"), g.getField("b").as("w2"),
            nullStr.as("w3"))),
        Grams.gram_structs($"ts", Seq("w1", "w2", "w3"))).as("h"))
    assert(a3.where($"k".cast("string") =!= $"h".cast("string")).count() == 0)
    // short/empty inputs: one token yields exactly its unigram row
    assert(short.select(size(Grams.all_gram_structs($"ts", Seq("a", "b", "c"))))
      .first().getInt(0) == 1)
    val empty = Seq(Tuple1(Seq.empty[String])).toDF("ts")
    assert(empty.select(size(Grams.all_gram_structs($"ts", Seq("a", "b"))))
      .first().getInt(0) == 0)
  }

  test("driftReport: hand-computed JS terms, absent-side zeros, ranking") {
    import spark.implicits._
    import graft.operators.TextOps
    val v1 = Seq(Tuple1("A a b")).toDF("text")   // tokens a,a,b — t1=3
    val v2 = Seq(Tuple1("a B b c")).toDF("text") // tokens a,b,b,c — t2=4
    val rows = TextOps.driftReport(v1, v2, "text").collect()
      .map(r => r.getString(0) -> r).toMap
    assert(rows.keySet == Set("a", "b", "c"))
    def js(p: Double, q: Double): Double = {
      val m = (p + q) / 2
      val h1 = if (p > 0) p * math.log(p / m) / 2 else 0.0
      val h2 = if (q > 0) q * math.log(q / m) / 2 else 0.0
      math.rint((h1 + h2) * 1e8) / 1e8
    }
    val a = rows("a")
    assert(a.getLong(1) == 2 && a.getLong(2) == 1)
    assert(a.getDouble(3) == math.rint(2.0 / 3 * 1e8) / 1e8)
    assert(a.getDouble(4) == 0.25)
    assert(a.getDouble(6) == js(2.0 / 3, 0.25))
    // c is absent from v1: zero count, zero p1, finite JS term
    val c = rows("c")
    assert(c.getLong(1) == 0 && c.getDouble(3) == 0.0)
    assert(c.getDouble(6) == js(0.0, 0.25))
    // ranking is the integer cross-count diff: |n1·t2 − n2·t1| =
    // a: |8−3|=5, b: |4−6|=2, c: |0−3|=3 → order a, c, b
    val order = TextOps.driftReport(v1, v2, "text").collect().map(_.getString(0))
    assert(order.toSeq == Seq("a", "c", "b"), order.mkString(","))
    // disjoint vocabularies: total JS = ln 2 (the metric's ceiling)
    val d1 = Seq(Tuple1("x x")).toDF("text")
    val d2 = Seq(Tuple1("y")).toDF("text")
    val tot = TextOps.driftReport(d1, d2, "text")
      .agg(sum(col("js_part"))).first().getDouble(0)
    assert(math.abs(tot - math.log(2)) < 1e-7, tot.toString)
    // one empty side: no division blow-up, all mass on the other side
    val e = TextOps.driftReport(d1, d1.where(lit(false)), "text").collect()
    assert(e.forall(r => r.getLong(2) == 0 && r.getDouble(4) == 0.0))
    assert(math.abs(e.map(_.getDouble(6)).sum - math.log(2) / 2) < 1e-7)
  }
}
