package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.GraftFunctions
import graft.operators.TextOps

/** SURVEY §2.9 — sketch-aggregate queries over Spark's built-in
  * sketches (quantiles, top-k, HLL distinct count), count-min
  * sketches, and exact heavy-hitter n-gram mining.
  *
  * q_topk_sketch runs `GraftFunctions.topkSketch` with capacity ≥ the
  * group's item cardinality, where its counts are exact — so the
  * sketch path itself carries a full DuckDB oracle. The eviction
  * regime is pinned by SketchSpec. q_quantiles_tdigest and
  * q_distinct_hll are golden-pinned (approximation has no SQL replay),
  * and tools/check.py bounds both against exact DuckDB truth. The
  * quantile query repartitions by group and sorts within partitions,
  * so the sketch's input order — and thus the golden — is
  * deterministic at any core count.
  */
object SketchQueries {

  private def docs(s: SparkSession, d: String) = Tables(s, d, "documents")

  val qs: Map[String, (SparkSession, String) => DataFrame] = Map(
    // per-source doc-length quantiles via Spark's Greenwald-Khanna
    // sketch at accuracy 100 (rank error <= 1%)
    "q_quantiles_tdigest" -> ((s, d) =>
      docs(s, d)
        .select(col("source"), col("n_chars"), col("doc_id"))
        .repartition(8, col("source"))
        .sortWithinPartitions(col("source"), col("n_chars"), col("doc_id"))
        .groupBy(col("source"))
        .agg(percentile_approx(col("n_chars").cast("double"),
          array(lit(0.5), lit(0.9), lit(0.99)), lit(100)).as("qv"))
        .select(col("source"),
          round(element_at(col("qv"), 1), 2).as("p50"),
          round(element_at(col("qv"), 2), 2).as("p90"),
          round(element_at(col("qv"), 3), 2).as("p99"))),

    // top-2 languages per source via the topk_sketch aggregate; with
    // capacity 16 ≥ 5 distinct langs the sketch is exact → oracled
    "q_topk_sketch" -> ((s, d) =>
      docs(s, d)
        .groupBy(col("source"))
        .agg(GraftFunctions.topkSketch(col("lang"), 16, 2).as("top"))
        .select(col("source"), posexplode(col("top")).as(Seq("rank", "e")))
        .select(col("source"), (col("rank") + 1).as("rank"),
          col("e.item").as("lang"), col("e.count").as("cnt"))),

    // per-type distinct users via Spark's HLL sketch (datasketches,
    // lgConfigK 14: bounded state per group at ANY cardinality; the
    // estimate does not depend on the partition count).
    // tools/check.py bounds it against the exact count.
    "q_distinct_hll" -> ((s, d) =>
      Tables(s, d, "events")
        .groupBy(col("event_type"))
        .agg(GraftFunctions.hllDistinct(col("user_id")).as("est_users"),
          count(lit(1)).as("n_events"))),

    // exact corpus-wide heavy hitters: top-20 word trigrams
    // (deterministic tie-break by gram). Exact two-phase group-by is
    // the baseline the sketch approximates; TakeOrderedAndProject
    // keeps the top-k global sort driver-light.
    "q_ngram_topk" -> ((s, d) => {
      val toks = docs(s, d).select(TextOps.tokens(col("text")).as("w"))
        .where(size(col("w")) >= 3)
      toks.select(explode(
          graft.functions.Grams.gram_strings(col("w"), 3)).as("gram"))
        .groupBy(col("gram")).agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("gram"))
        .limit(20)
    }),

    // count-min sketch over the lineitem part keys (d=4 hash rows ×
    // w=256 buckets — the sketch table is ≤1024 rows whatever the
    // corpus size), point-estimated for the 20 smallest keys next to
    // their exact counts: est ≥ true always (CMS never undercounts;
    // SketchSpec pins the property corpus-wide). Build shuffles only
    // the sketch, estimate broadcast-joins it. FULL oracle — the
    // md5-prefix hashes replay in SQL.
    "q_sketch_cms" -> ((s, d) => {
      import graft.operators.Cms
      val li = Tables(s, d, "lineitem").select(col("l_partkey"))
      val sketch = Cms.build(li, "l_partkey", d = 4, w = 256)
      // the exact-count aggregate's key set IS the distinct probe set —
      // reuse it (r21: one fewer lineitem pass; the probe distinct and
      // the exact groupBy were separate scans of the same filter)
      val exact = li.where(col("l_partkey") <= 20)
        .groupBy(col("l_partkey")).agg(count(lit(1)).as("n_true"))
      Cms.estimate(exact.select(col("l_partkey")), "l_partkey", sketch,
          d = 4, w = 256)
        .join(broadcast(exact), Seq("l_partkey"))
        .select(col("l_partkey"), col("est"), col("n_true"))
    }),

    // sketch-only join-size estimation (AMS/CMS inner product): the
    // lineitem⋈orders output size predicted from two 1024-row
    // sketches, next to the true size — the broadcast-vs-shuffle
    // planning number obtained WITHOUT running the join. est ≥ true
    // always (collision mass only adds). FULL oracle.
    "q_sketch_joinsize" -> ((s, d) => {
      import graft.operators.Cms
      // ONE per-key count table per side serves BOTH the sketch build
      // and the exact truth (r22, guide §2.4/§6): the sketch folds the
      // per-key counts into its buckets (buildWeighted — identical
      // values to counting raw rows), so each input is scanned and
      // key-aggregated once and the two consumers reuse the exchange.
      // the explicit isNotNull matches the predicate the truth join
      // pushes into ITS branch — without it the two consumers' scan
      // subtrees differ (one filtered, one not) and AQE cannot reuse
      // the per-key shuffle stage (verified in the executed plan).
      // Values are unchanged: the generated keys are never null, and a
      // null key could never contribute to the truth join anyway.
      val cl = Tables(s, d, "lineitem")
        .where(col("l_orderkey").isNotNull)
        .groupBy(col("l_orderkey")).agg(count(lit(1)).as("cl"))
      val co = Tables(s, d, "orders")
        .where(col("o_orderkey").isNotNull)
        .groupBy(col("o_orderkey")).agg(count(lit(1)).as("co"))
      val skL = Cms.buildWeighted(
        cl.select(col("l_orderkey").as("k"), col("cl")), "k", "cl")
      val skO = Cms.buildWeighted(
        co.select(col("o_orderkey").as("k"), col("co")), "k", "co")
      // exact truth Σ_k nL(k)·nO(k) — both sides are already one row
      // per key, so the verification join carries keys, not rows
      val truth = cl
        .join(co, col("l_orderkey") === col("o_orderkey"))
        .agg(sum(col("cl") * col("co")).cast("long").as("true_join_size"))
      Cms.joinSizeEstimate(skL, skO).crossJoin(broadcast(truth))
    })
  )

  val oracle: Map[String, String] = Map(
    "q_topk_sketch" ->
      """WITH c AS (
        |  SELECT source, lang, count(*) AS cnt,
        |    row_number() OVER (PARTITION BY source
        |                       ORDER BY count(*) DESC, lang) AS rank
        |  FROM documents GROUP BY source, lang)
        |SELECT source, rank, lang, cnt FROM c WHERE rank <= 2""".stripMargin,
    "q_ngram_topk" ->
      """WITH w AS (
        |  SELECT list_filter(string_split_regex(lower(text), '\s+'),
        |    x -> len(x) > 0) AS w
        |  FROM documents),
        |g AS (
        |  SELECT unnest(list_transform(range(1, len(w) - 1),
        |    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS gram
        |  FROM w WHERE len(w) >= 3)
        |SELECT gram, count(*) AS cnt FROM g
        |GROUP BY 1 ORDER BY cnt DESC, gram LIMIT 20""".stripMargin,
    "q_sketch_cms" ->
      """WITH rows4 AS (SELECT r FROM (VALUES (0),(1),(2),(3)) AS t(r)),
        |hx AS (SELECT md5('cms:' || CAST(l_partkey AS VARCHAR)) AS h FROM lineitem),
        |rb AS (SELECT r,
        |    ('0x' || substr(h, 8 * r + 1, 8))::BIGINT % 256 AS b
        |  FROM hx CROSS JOIN rows4),
        |sk AS (SELECT r, b, CAST(count(*) AS BIGINT) AS cnt FROM rb GROUP BY 1, 2),
        |probes AS (SELECT DISTINCT l_partkey FROM lineitem WHERE l_partkey <= 20),
        |pb AS (SELECT l_partkey, rows4.r,
        |    ('0x' || substr(md5('cms:' || CAST(l_partkey AS VARCHAR)), 8 * rows4.r + 1, 8))::BIGINT
        |      % 256 AS b
        |  FROM probes CROSS JOIN rows4),
        |est AS (SELECT pb.l_partkey, CAST(min(coalesce(sk.cnt, 0)) AS BIGINT) AS est
        |  FROM pb LEFT JOIN sk ON sk.r = pb.r AND sk.b = pb.b GROUP BY 1),
        |ex AS (SELECT l_partkey, CAST(count(*) AS BIGINT) AS n_true FROM lineitem
        |  WHERE l_partkey <= 20 GROUP BY 1)
        |SELECT e.l_partkey, e.est, ex.n_true
        |FROM est e JOIN ex ON ex.l_partkey = e.l_partkey""".stripMargin,
    "q_sketch_joinsize" ->
      """WITH rows4 AS (SELECT r FROM (VALUES (0),(1),(2),(3)) AS t(r)),
        |ska AS (SELECT r, b, CAST(count(*) AS BIGINT) AS cnt_a FROM (
        |    SELECT r, ('0x' || substr(md5('cms:' || CAST(l_orderkey AS VARCHAR)),
        |      8 * r + 1, 8))::BIGINT % 256 AS b
        |    FROM lineitem CROSS JOIN rows4) GROUP BY 1, 2),
        |skb AS (SELECT r, b, CAST(count(*) AS BIGINT) AS cnt_b FROM (
        |    SELECT r, ('0x' || substr(md5('cms:' || CAST(o_orderkey AS VARCHAR)),
        |      8 * r + 1, 8))::BIGINT % 256 AS b
        |    FROM orders CROSS JOIN rows4) GROUP BY 1, 2),
        |ipj AS (SELECT ska.r, sum(cnt_a * cnt_b) AS row_est
        |  FROM ska JOIN skb ON skb.r = ska.r AND skb.b = ska.b
        |  GROUP BY 1),
        |ru AS (SELECT DISTINCT r FROM
        |  (SELECT r FROM ska UNION ALL SELECT r FROM skb)),
        |ip AS (SELECT ru.r, coalesce(ipj.row_est, 0) AS row_est
        |  FROM ru LEFT JOIN ipj ON ipj.r = ru.r),
        |tl AS (SELECT l_orderkey AS k, count(*) AS cl FROM lineitem GROUP BY 1),
        |to2 AS (SELECT o_orderkey AS k, count(*) AS co FROM orders GROUP BY 1),
        |tj AS (SELECT CAST(sum(cl * co) AS BIGINT) AS true_join_size
        |  FROM tl JOIN to2 ON to2.k = tl.k)
        |SELECT CAST(min(row_est) AS BIGINT) AS est_join_size, true_join_size
        |FROM ip CROSS JOIN tj GROUP BY true_join_size""".stripMargin
  )
}
