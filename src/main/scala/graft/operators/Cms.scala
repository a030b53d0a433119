package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Count-min sketch as a TABLE: d hash rows × w buckets of counts —
  * the bounded-size frequency summary for corpora whose key
  * cardinality dwarfs memory (sibling of the top-k and HLL sketches,
  * which use Spark's built-in `approx_top_k` and `hll_sketch_agg`;
  * Cormode & Muthukrishnan 2005). It is kept beside Spark's
  * `count_min_sketch` because its md5-prefix buckets replay in DuckDB,
  * so q_sketch_cms has an exact oracle. Estimates overcount, never undercount:
  * est(k) = min over rows of the bucket count, so
  * true ≤ est ≤ true + εN with ε = e/w at confidence 1 − (1/e)^d.
  *
  * Sketch-as-a-table is deliberately Spark-shaped:
  *   - build: the corpus explodes d× map-side and partial-aggregates
  *     into ≤ d·w rows — the ONLY shuffle payload is the sketch
  *     itself, never the corpus;
  *   - merge: counts add (union + re-aggregate) — shard sketches on
  *     1000 executors, merge the tiny tables;
  *   - estimate: the sketch broadcast-joins the probe keys.
  *
  * Hashes are the md5-prefix construction every sampler here uses —
  * deterministic across engines, so the whole pipeline replays in SQL
  * (q_sketch_cms carries the FULL oracle).
  */
object Cms {

  /** Bucket of `key` in hash row r — PORTABLE kernel: hex digits
    * [8r+1, 8r+8] of ONE md5 of "cms:{key}", mod w. A single md5
    * yields 128 bits = four independent 32-bit slices, so all d ≤ 4
    * rows cost one hash per key (a 4× cut over hashing per row) and
    * each slice still replays in DuckDB SQL (the query surface /
    * oracle path).
    */
  def bucket(key: Column, r: Int, w: Int): Column =
    bucketOfHex(md5(concat(lit("cms:"), key.cast("string"))), r, w)

  // hex_slice_long ≡ conv(substring(hex, 1+8r, 8), 16, 10) on hex
  // input (value-pinned in SketchSpec) but parses the bytes in place —
  // conv's slicing + generic base conversion was the build's hot spot.
  // The slice value is in [0, 2³²), so % w already returns nonnegative.
  private def bucketOfHex(hex: Column, r: Int, w: Int): Column =
    graft.functions.TextHashFunctions.hex_slice_long(hex, 1 + 8 * r) % lit(w.toLong)

  /** Production kernel: xxhash64-seeded bucket — one codegen'd hash
    * per (row, r) instead of an md5 over a built string; same sketch
    * semantics, not SQL-replayable. The dedup family's dual-kernel
    * convention (portable for the oracle surface, fast for scale).
    */
  def bucketFast(key: Column, r: Int, w: Int): Column =
    pmod(xxhash64(lit(r), key), lit(w.toLong))

  /** Explode a frame to its (r, b) probe rows, keeping `keep`. The
    * portable path materializes the md5 hex in an EXPLICIT projection
    * below the explode: the hash expression must not ride inside the
    * generator's input, because GenerateExec evaluates its input
    * expressions without subexpression elimination — embedding the
    * md5 subtree d× really hashes d× per row (measured ~2× on the
    * whole q_sketch_cms query at sf0.1; the Project boundary below
    * the Generate survives the optimizer, so one hash per row is a
    * plan-structural guarantee, not a codegen hope).
    */
  private def probeRows(df: DataFrame, keyCol: String, d: Int, w: Int,
                        portable: Boolean, keep: Seq[String]): DataFrame = {
    require(!portable || d <= 4, s"portable kernel has 4 md5 slices, got d=$d")
    if (portable) {
      require(!keep.contains("_cms_h") && keyCol != "_cms_h",
        "cms reserves _cms_h — rename upstream")
      df.select(md5(concat(lit("cms:"), col(keyCol).cast("string")))
          .as("_cms_h") +: keep.map(col): _*)
        .select(explode(array((0 until d).map(r =>
          struct(lit(r).as("r"), bucketOfHex(col("_cms_h"), r, w).as("b"))): _*))
          .as("rb") +: keep.map(col): _*)
    } else
      df.select(explode(array((0 until d).map { r =>
        struct(lit(r).as("r"), bucketFast(col(keyCol), r, w).as("b"))
      }: _*)).as("rb") +: keep.map(col): _*)
  }

  /** Build the sketch: one row per occupied (hash row, bucket) with
    * its count — at most d·w rows regardless of corpus size.
    */
  def build(df: DataFrame, keyCol: String, d: Int = 4, w: Int = 256,
            portable: Boolean = true): DataFrame = {
    require(d >= 1 && w >= 2, s"need d >= 1, w >= 2; got d=$d w=$w")
    probeRows(df, keyCol, d, w, portable, keep = Seq.empty)
      .groupBy(col("rb.r").as("r"), col("rb.b").as("b"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** Build the sketch from an ALREADY-AGGREGATED (key, count) table:
    * per (hash row, bucket), counts sum instead of rows counting — so
    * a per-key count table a query computes anyway (e.g. a join-size
    * truth side) feeds the sketch without a second corpus scan, and
    * the values are exactly [[build]]'s (Σ over keys in a bucket of
    * count(key) ≡ count of rows in the bucket). r22, guide §2.4/§6:
    * q_sketch_joinsize's sketch builds ride the truth side's per-key
    * aggregates — the exchange is shared, each input is scanned once.
    */
  def buildWeighted(keyCounts: DataFrame, keyCol: String, cntCol: String,
                    d: Int = 4, w: Int = 256,
                    portable: Boolean = true): DataFrame = {
    require(d >= 1 && w >= 2, s"need d >= 1, w >= 2; got d=$d w=$w")
    probeRows(keyCounts, keyCol, d, w, portable, keep = Seq(cntCol))
      .groupBy(col("rb.r").as("r"), col("rb.b").as("b"))
      .agg(sum(col(cntCol)).as("cnt"))
  }

  /** Merge two sketches built with the same (d, w): counts add. */
  def merge(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b).groupBy(col("r"), col("b"))
      .agg(sum(col("cnt")).as("cnt"))

  /** Equi-join output-size estimate from two sketches built with the
    * same (d, w) over the two join keys: per hash row, the inner
    * product Σ_b cntA·cntB; the estimate is the MIN over rows
    * (Alon-Matias-Szegedy style — each row overestimates
    * |A ⋈ B| = Σ_k nA(k)·nB(k) by its collision mass, never under).
    * The planner statistic that decides broadcast-vs-shuffle or
    * pre-aggregation BEFORE running a join, from two tables that were
    * each read once, possibly on different days. Both sketches are
    * ≤ d·w rows — the estimate itself costs nothing at any scale.
    */
  def joinSizeEstimate(skA: DataFrame, skB: DataFrame): DataFrame = {
    val x = skA.select(col("r"), col("b"), col("cnt").as("cnt_a"))
    val y = skB.select(col("r"), col("b"), col("cnt").as("cnt_b"))
    // a hash row with NO shared bucket has inner product 0 — it must
    // participate in the min (its absence would overestimate a
    // disjoint-key join). The FULL OUTER join keeps every row present
    // in either sketch (the row universe comes from the sketches
    // THEMSELVES, not a d parameter that could disagree with the
    // build), and one-sided buckets contribute coalesce(a·b, 0) = 0 —
    // so rows without overlap sum to exactly the 0 the min needs.
    // One join + one aggregate; the r20 shape materialized a separate
    // row-universe (union + distinct + left join) for the same values.
    // coalesce the OUTER min too: two empty sketches yield zero rows,
    // and min over zero rows is NULL — downstream planner arithmetic
    // expects the empty-input estimate to read 0, not NULL
    x.join(y, Seq("r", "b"), "full_outer")
      .groupBy(col("r"))
      .agg(sum(coalesce(col("cnt_a") * col("cnt_b"), lit(0L))).as("row_est"))
      .agg(coalesce(min(col("row_est")), lit(0L))
        .cast("long").as("est_join_size"))
  }

  /** Point-estimate the frequency of each probe key: min over hash
    * rows of the bucket count (0 when a bucket is unoccupied). The
    * sketch side is ≤ d·w rows and broadcasts. (d, w) must match the
    * build call — misaligned buckets read as empty and undercount.
    */
  def estimate(keys: DataFrame, keyCol: String, sketch: DataFrame,
               d: Int = 4, w: Int = 256,
               portable: Boolean = true): DataFrame =
    probeRows(keys, keyCol, d, w, portable, keep = Seq(keyCol))
      .select(col(keyCol), col("rb.r").as("r"), col("rb.b").as("b"))
      .join(broadcast(sketch), Seq("r", "b"), "left")
      .groupBy(col(keyCol))
      .agg(min(coalesce(col("cnt"), lit(0L))).as("est"))
}
