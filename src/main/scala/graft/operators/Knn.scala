package graft.operators

import graft.functions.VectorFunctions
import org.apache.spark.sql.{classic, Column, DataFrame}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column
  * (array<float>): brute-force cosine top-k as the exactness baseline,
  * and a random-hyperplane-LSH bucketed variant as the scale path.
  *
  * All vector math is zip_with/aggregate over arrays — codegen'd, no
  * UDFs. Scale design: brute force broadcast-joins the (small) query
  * set against the corpus, so the corpus is never shuffled and per-query
  * top-k reduces map-side; the LSH path prunes each query to its own
  * signature bucket, turning O(Q·N) similarity work into O(Q·N/2^bits)
  * with recall traded via the probe count.
  */
object Knn {

  /** Cosine similarity between two equal-length vectors — one codegen
    * kernel call per row (graft.functions.CosineSimExpr). The previous
    * aggregate(zip_with(...)) formulation interpreted a lambda per
    * element — the same pathology the minhash path shed for a 27× win;
    * the kernel replicates its fold order exactly, so results are
    * bit-identical.
    */
  def cosine(a: Column, b: Column): Column = VectorFunctions.cosine_sim(a, b)

  /** The shared top-k epilogue: rank the ROUNDED similarity (ties
    * broken by neighbor id) so the ordering is reproducible across
    * engines and ulp noise, keep k per query. Every *TopK variant
    * funnels through here — one place owns the tie-break/rounding
    * convention.
    */
  private def rankTopK(joined: DataFrame, score: Column, k: Int): DataFrame = {
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("n_id"))
    joined
      .withColumn("cos", round(score, 5))
      .withColumn("rank", row_number().over(w).cast("int"))
      .where(col("rank") <= k)
      .select(col("q_id"), col("n_id"), col("cos"), col("rank"))
  }

  /** Exact-shape top-k over int8-QUANTIZED vectors: both sides are
    * symmetric-quantized to one byte per element (cosine is invariant
    * under the per-vector scale, so no dequantization) and scored with
    * an integer dot/norm kernel. Same plan shape as [[bruteForceTopK]]
    * — probes broadcast, corpus never shuffled — but the broadcast and
    * the scan-side scoring payload shrink 4× and the inner loop is
    * byte math: the standard memory/bandwidth trade of a production
    * vector store, with recall pinned by KnnSpec instead of assumed.
    */
  def bruteQuantTopK(queries: DataFrame, corpus: DataFrame,
                     idCol: String, vecCol: String, k: Int,
                     excludeSelf: Boolean = true): DataFrame = {
    val quant = VectorFunctions.quantize_int8 _
    val q = queries.select(col(idCol).as("q_id"), quant(col(vecCol)).as("q_q"))
    val c = corpus.select(col(idCol).as("n_id"), quant(col(vecCol)).as("n_q"))
    rankTopK(c.join(broadcast(q),
        if (excludeSelf) col("q_id") =!= col("n_id") else lit(true)),
      VectorFunctions.int8_cosine(col("q_q"), col("n_q")), k)
  }

  /** Exact top-k by cosine for every query row. `queries` must be small
    * enough to broadcast (it is by construction: the probe set).
    * Returns (q_id, n_id, cos, rank).
    */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame,
                     idCol: String, vecCol: String, k: Int,
                     excludeSelf: Boolean = true): DataFrame = {
    val q = queries.select(col(idCol).as("q_id"), col(vecCol).as("q_vec"))
    val c = corpus.select(col(idCol).as("n_id"), col(vecCol).as("n_vec"))
    rankTopK(c.join(broadcast(q),
        if (excludeSelf) col("q_id") =!= col("n_id") else lit(true)),
      cosine(col("q_vec"), col("n_vec")), k)
  }

  /** Hard-negative mining for contrastive embedding training (the DPR
    * recipe — Karpukhin et al. 2020 "Dense Passage Retrieval" mines
    * negatives from the retriever's own results): per anchor, the
    * positive is the nearest SAME-label item and the hard negative the
    * nearest DIFFERENT-label item. The two classes rank SEPARATELY
    * (conditional max_by over the scored pairs — no shared top-k cut),
    * so a well-clustered corpus where every near neighbor shares the
    * anchor's label still yields a negative: exactly the regime where
    * a top-k-then-filter miner silently returns nothing (the sf1
    * rehearsal caught this). Anchors whose candidate set lacks a class
    * entirely drop out (a training pair needs both sides).
    *
    * Plan shape: ONE scored pass — anchors (with labels) broadcast
    * against the corpus scan carrying its label column, then a single
    * partial-agg'd shuffle on q_id; no window, no second corpus read.
    * Pass `cents` to prune candidates to the IVF probe cells at scale
    * (both classes then rank within the probed cells only).
    *
    * Returns (q_id, pos_id, pos_cos, neg_id, neg_cos).
    */
  def miningTriplets(anchors: DataFrame, corpus: DataFrame,
                     idCol: String, vecCol: String, labelCol: String,
                     cents: Option[Array[Array[Double]]] = None,
                     probes: Int = 4): DataFrame = {
    val c0 = corpus.select(col(idCol).as("n_id"), col(vecCol).as("n_vec"),
      col(labelCol).as("n_label"))
    val joined = cents match {
      case Some(ct) =>
        val c = c0.withColumn("cell", VectorFunctions.ivf_cell(col("n_vec"), ct))
        val q = anchors.select(col(idCol).as("q_id"), col(vecCol).as("q_vec"),
          col(labelCol).as("q_label"),
          explode(VectorFunctions.ivf_probe_cells(col(vecCol), ct, probes)).as("cell"))
        c.join(broadcast(q), Seq("cell")).where(col("q_id") =!= col("n_id"))
      case None =>
        val q = anchors.select(col(idCol).as("q_id"), col(vecCol).as("q_vec"),
          col(labelCol).as("q_label"))
        c0.join(broadcast(q), col("q_id") =!= col("n_id"))
    }
    val scored = joined
      .withColumn("cos", round(cosine(col("q_vec"), col("n_vec")), 5))
      .withColumn("same", col("n_label") === col("q_label"))
    // min_by ignores rows whose ordering key is null, so the two
    // conditional keys rank each class independently in one aggregate;
    // (-cos, n_id) reproduces rankTopK's desc-cos / asc-id tie-break
    // for ANY orderable id type (negating the id instead would cast
    // string ids to null and lose determinism among equal cosines)
    def key(cond: Column) = when(cond, struct((-col("cos")).as("nc"), col("n_id")))
    scored.groupBy(col("q_id"))
      .agg(
        min_by(struct(col("n_id"), col("cos")), key(col("same"))).as("p"),
        min_by(struct(col("n_id"), col("cos")), key(!col("same"))).as("n"))
      .where(col("p").isNotNull && col("n").isNotNull)
      .select(col("q_id"), col("p.n_id").as("pos_id"), col("p.cos").as("pos_cos"),
        col("n.n_id").as("neg_id"), col("n.cos").as("neg_cos"))
  }

  /** Deterministic pseudo-random hyperplanes: `bits` planes × `dim`
    * components in [-1, 1), derived from a seeded xorshift — stable
    * across runs and cluster nodes.
    */
  def hyperplanes(bits: Int, dim: Int, seed: Long = 42L): Array[Array[Double]] = {
    var s = seed
    def next(): Double = {
      s ^= s << 13; s ^= s >>> 7; s ^= s << 17
      (s >>> 11).toDouble / (1L << 53).toDouble * 2.0 - 1.0
    }
    Array.fill(bits, dim)(next())
  }

  /** Sign-bit LSH bucket id of a vector for the given hyperplanes —
    * all plane dots in one codegen kernel call (LshBucketExpr; the
    * planes ride into the generated code via addReferenceObj).
    */
  def lshBucket(vec: Column, planes: Array[Array[Double]]): Column =
    VectorFunctions.lsh_bucket(vec, planes)

  /** Train spherical-k-means centroids for the IVF index: a
    * deterministic hash-ordered sample seeds `cells` centroids, then
    * `iters` distributed Lloyd iterations (assign via the codegen
    * IvfCellExpr, recompute means via posexplode/avg). Only
    * cells × dim doubles ever reach the driver — corpus-size
    * independent, so the same code trains on 100 TB.
    */
  /** L2 normalization — ONE convention for centroid scaling, shared by
    * the IVF trainer and the incremental refresher so their centroid
    * tables stay interchangeable.
    */
  private def l2Normalize(v: Array[Double]): Array[Double] = {
    val n = math.sqrt(v.map(x => x * x).sum)
    if (n == 0) v else v.map(_ / n)
  }

  def trainIvfCentroids(corpus: DataFrame, idCol: String, vecCol: String,
                        cells: Int, iters: Int = 1): Array[Array[Double]] = {
    def normalized(rows: Seq[Array[Double]]): Array[Array[Double]] =
      rows.map(l2Normalize).toArray

    val seedRows = corpus
      .select(col(vecCol).as("v"), xxhash64(col(idCol)).as("h"))
      .orderBy(col("h")).limit(cells).select(col("v"))
      .collect().map(_.getSeq[Float](0).map(_.toDouble).toArray)
    var cents = normalized(seedRows.toSeq)

    for (_ <- 1 to iters) {
      val means = corpus
        .select(VectorFunctions.ivf_cell(col(vecCol), cents).as("cell"),
          posexplode(col(vecCol)).as(Seq("pos", "x")))
        .groupBy(col("cell"), col("pos"))
        .agg(avg(col("x")).as("m"))
        .collect()
      val byCell = means.groupBy(_.getInt(0))
      cents = normalized(cents.indices.map { i =>
        byCell.get(i) match {
          case Some(rows) =>
            val dim = rows.map(_.getInt(1)).max + 1
            val v = new Array[Double](dim)
            rows.foreach(r => v(r.getInt(1)) = r.getDouble(2))
            v
          case None => cents(i) // empty cell keeps its centroid
        }
      })
    }
    cents
  }

  /** IVF ANN: corpus vectors are assigned to their nearest centroid's
    * cell (the inverted file); each query scans only its `probes`
    * closest cells. The cell id is a pure function of the vector and
    * the (tiny, code-embedded) centroid table, so at scale the corpus
    * is written partitioned/bucketed by cell and a probe is a pruned
    * scan. Returns the bruteForceTopK shape.
    */
  def ivfTopK(queries: DataFrame, corpus: DataFrame,
              idCol: String, vecCol: String, k: Int,
              cells: Int = 16, probes: Int = 4, iters: Int = 1,
              excludeSelf: Boolean = true): DataFrame =
    ivfTopKWith(trainIvfCentroids(corpus, idCol, vecCol, cells, iters),
      queries, corpus, idCol, vecCol, k, probes, excludeSelf)

  /** [[ivfTopK]] with an already-trained centroid table — the
    * build-once/probe-many production path (pair with
    * [[saveIvfIndex]]/[[loadIvfIndex]]): training cost is paid by the
    * indexing job, probe jobs just load kilobytes of centroids.
    */
  def ivfTopKWith(cents: Array[Array[Double]],
                  queries: DataFrame, corpus: DataFrame,
                  idCol: String, vecCol: String, k: Int,
                  probes: Int = 4, excludeSelf: Boolean = true): DataFrame = {
    val c = corpus.select(col(idCol).as("n_id"), col(vecCol).as("n_vec"),
      VectorFunctions.ivf_cell(col(vecCol), cents).as("cell"))
    val q = queries.select(col(idCol).as("q_id"), col(vecCol).as("q_vec"),
        explode(VectorFunctions.ivf_probe_cells(col(vecCol), cents, probes)).as("cell"))
    rankTopK(c.join(broadcast(q), Seq("cell"))
        .where(if (excludeSelf) col("q_id") =!= col("n_id") else lit(true)),
      cosine(col("q_vec"), col("n_vec")), k)
  }

  /** Streaming vector search: top-k over a STREAM of query vectors
    * against a static, IVF-indexed corpus — the serving shape of the
    * batch [[ivfTopKWith]]. The stream side explodes to its probe
    * cells (map-only; the centroid table is a plan literal), joins
    * the cell-assigned static corpus (stream-static inner join, no
    * state), and one update-mode aggregation per query id assembles
    * the top-k array — tie-breaking exactly like the batch rankTopK
    * (rounded score desc, neighbor id asc). Works identically on a
    * batch frame; each query id should arrive once (the aggregation
    * merges re-arrivals).
    *
    * Returns (q_id, top) where top = array of (n_id, cos) structs in
    * rank order.
    */
  def ivfTopKStream(cents: Array[Array[Double]],
                    queryStream: DataFrame, corpus: DataFrame,
                    idCol: String, vecCol: String, k: Int,
                    probes: Int = 4, excludeSelf: Boolean = true): DataFrame = {
    val c = corpus.select(col(idCol).as("n_id"), col(vecCol).as("n_vec"),
      VectorFunctions.ivf_cell(col(vecCol), cents).as("cell"))
    val q = queryStream.select(col(idCol).as("q_id"), col(vecCol).as("q_vec"),
      explode(VectorFunctions.ivf_probe_cells(col(vecCol), cents, probes)).as("cell"))
    q.join(c, Seq("cell"))
      .where(if (excludeSelf) col("q_id") =!= col("n_id") else lit(true))
      .withColumn("cos", round(cosine(col("q_vec"), col("n_vec")), 5))
      .groupBy(col("q_id"))
      .agg(transform(
        slice(array_sort(collect_list(struct((-col("cos")).as("neg"),
          col("n_id")))), 1, k),
        s => struct(s("n_id").as("n_id"), (-s("neg")).as("cos"))).as("top"))
  }

  // ---- index persistence ----
  // Model sizes are corpus-independent (cells·dim and ksub·dim
  // doubles), so save/load moves kilobytes; parquet keeps them
  // engine-readable for audit.

  /** Persist trained IVF centroids as parquet (cell, centroid). */
  def saveIvfIndex(spark: org.apache.spark.sql.SparkSession,
                   cents: Array[Array[Double]], path: String): Unit = {
    import spark.implicits._
    cents.zipWithIndex.map { case (v, i) => (i, v.toSeq) }.toSeq
      .toDF("cell", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  /** Load a saved IVF centroid table (ordered by cell id). */
  def loadIvfIndex(spark: org.apache.spark.sql.SparkSession,
                   path: String): Array[Array[Double]] =
    spark.read.parquet(path).orderBy(col("cell"))
      .collect().map(_.getSeq[Double](1).toArray)

  /** Incremental IVF maintenance after a corpus refresh — the
    * operational step between this ANN stack and a production vector
    * store. Appending vectors to a built index is free here (the cell
    * is a pure function of vector + centroid table, so new rows just
    * assign to existing cells at write time), but growth is rarely
    * uniform: a crawl refresh lands a dense new topic in one cell and
    * every probe of it degrades toward brute force. This SPLITS the
    * cells the growth has made oversized (> `splitFactor` × the mean
    * occupancy) by a cell-local 2-means re-fit, keeping every other
    * centroid FROZEN — existing cell assignments outside the split
    * cells stay valid, so the refreshed index ships as: unchanged
    * slots + each split cell's first child in place + second children
    * appended. No full retrain, no global reshuffle of the corpus;
    * only split cells' rows need cell re-assignment on the next write.
    *
    * Scale shape: one pass for the occupancy histogram (cells-bounded
    * agg), then `iters` passes over ONLY the oversized cells' slice
    * (at scale a cell-pruned scan of the cell-partitioned corpus —
    * kilobytes of child centroids broadcast, the slice never
    * shuffles; the seed pick is the only per-cell window, over the
    * slice). Returns the refreshed centroid table; callers re-save
    * with [[saveIvfIndex]].
    */
  def refreshIvfCentroids(cents: Array[Array[Double]], grown: DataFrame,
                          idCol: String, vecCol: String,
                          splitFactor: Double = 4.0,
                          iters: Int = 2): Array[Array[Double]] = {
    // two corpus passes by design: the histogram pass and (only when a
    // split triggers) the oversized-slice pass re-derive the codegen
    // cell assignment rather than materialize a corpus-scale
    // checkpoint — at scale the corpus sits cell-partitioned on disk,
    // making the second pass a pruned scan of just the hot cells
    val assigned = grown.select(col(idCol).as("id"), col(vecCol).as("v"),
      VectorFunctions.ivf_cell(col(vecCol), cents).as("cell"))
    val hist = assigned.groupBy(col("cell")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val meanOcc = hist.values.sum.toDouble / cents.length
    val oversized = hist.filter { case (_, n) => n > splitFactor * meanOcc && n >= 2 }
      .keys.toSeq.sorted
    if (oversized.isEmpty) return cents

    // the oversized slice feeds iters+1 jobs — materialize it once
    val slice = assigned.where(col("cell").isin(oversized: _*))
      .localCheckpoint(true)
    // deterministic seeds: the 2 smallest-id-hash vectors of each cell
    // (the trainIvfCentroids seeding rule, applied per cell)
    val w = Window.partitionBy(col("cell")).orderBy(xxhash64(col("id")), col("id"))
    val seedRows = slice.withColumn("rn", row_number().over(w))
      .where(col("rn") <= 2).select(col("cell"), col("rn"), col("v"))
      .collect()
    var children: Map[Int, Array[Array[Double]]] = oversized.map { c =>
      val s = seedRows.filter(_.getInt(0) == c).sortBy(_.getInt(1))
        .map(r => l2Normalize(r.getSeq[Float](2).map(_.toDouble).toArray))
      c -> Array(s(0), s(1))
    }.toMap

    val spark = grown.sparkSession
    import spark.implicits._
    for (_ <- 1 to iters) {
      val childDf = children.toSeq.sortBy(_._1)
        .map { case (c, arr) => (c, arr(0).toSeq, arr(1).toSeq) }
        .toDF("cell", "ca", "cb")
      val means = slice.join(broadcast(childDf), Seq("cell"))
        .select(col("cell"),
          when(cosine(col("v"), col("ca")) >= cosine(col("v"), col("cb")),
            lit(0)).otherwise(lit(1)).as("child"),
          posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy(col("cell"), col("child"), col("pos"))
        .agg(avg(col("x")).as("m"))
        .collect()
      children = children.map { case (c, prev) =>
        val mine = means.filter(_.getInt(0) == c)
        c -> Array(0, 1).map { ch =>
          val rows = mine.filter(_.getInt(1) == ch)
          if (rows.isEmpty) prev(ch) // empty child keeps its seed
          else {
            val v = new Array[Double](rows.map(_.getInt(2)).max + 1)
            rows.foreach(r => v(r.getInt(2)) = r.getDouble(3))
            l2Normalize(v)
          }
        }
      }
    }
    // unchanged slots keep their index; split slots take child 0 in
    // place; child 1s append in cell order
    val out = cents.clone().toBuffer
    oversized.foreach(c => out(c) = children(c)(0))
    oversized.foreach(c => out += children(c)(1))
    out.toArray
  }

  /** Persist trained PQ codebooks as parquet (subspace, entry, values). */
  def savePqCodebooks(spark: org.apache.spark.sql.SparkSession,
                      cb: Array[Array[Array[Double]]], path: String): Unit = {
    import spark.implicits._
    (for { (sub, j) <- cb.zipWithIndex; (e, c) <- sub.zipWithIndex }
      yield (j, c, e.toSeq)).toSeq
      .toDF("subspace", "entry", "v")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  /** Load saved PQ codebooks. */
  def loadPqCodebooks(spark: org.apache.spark.sql.SparkSession,
                      path: String): Array[Array[Array[Double]]] = {
    val rows = spark.read.parquet(path)
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toArray))
    val m = rows.map(_._1).max + 1
    Array.tabulate(m) { j =>
      val sub = rows.filter(_._1 == j).sortBy(_._2)
      sub.map(_._3)
    }
  }

  /** Multi-table bucketed ANN: `tables` independent sign-bit LSH
    * tables; a query's candidates are the union over tables of its own
    * bucket plus `probes` single-bit-flip probe buckets. Standard
    * recall/cost dial: P(candidate found) = 1-(1-p_table)^tables, at
    * cost ≈ tables·(1+probes·bits)·N/2^bits similarity evaluations.
    *
    * Scale design: the corpus side carries only (table, bucket, id,
    * vec) — at 100 TB the corpus would be written bucketed by (table,
    * bucket) so the probe join is a pruned scan, not a shuffle; the
    * query side is broadcast. Returns the bruteForceTopK shape; recall
    * vs brute force is the ScalaTest contract (KnnSpec).
    */
  def lshTopK(queries: DataFrame, corpus: DataFrame,
              idCol: String, vecCol: String, k: Int,
              bits: Int = 8, tables: Int = 4, probes: Int = 1,
              seed: Long = 42L, excludeSelf: Boolean = true,
              dim: Int = 0): DataFrame = {
    // hyperplanes must span the full embedding width: dim ≤ vector
    // width silently buckets on a prefix (lshBucket truncates) and
    // recall collapses. 0 = derive from the first corpus vector (one
    // single-row driver lookup, corpus-size-independent); an empty or
    // all-null corpus keeps the old 64 default and returns no rows.
    val width =
      if (dim > 0) dim
      else corpus.select(size(col(vecCol)).as("d")).where(col("d") > 0)
        .limit(1).collect().headOption.map(_.getInt(0)).getOrElse(64)
    val planeSets = Array.tabulate(tables)(t => hyperplanes(bits, width, seed + 7919L * t))

    def tableBuckets(vec: Column): Column =
      array(planeSets.indices.map(t =>
        struct(lit(t).as("tbl"), lshBucket(vec, planeSets(t)).as("bucket"))): _*)

    val c = corpus.select(col(idCol).as("n_id"), col(vecCol).as("n_vec"),
        explode(tableBuckets(col(vecCol))).as("tb"))
      .select(col("tb.tbl"), col("tb.bucket"), col("n_id"), col("n_vec"))

    // query side: per table, home bucket + `probes` single-bit flips
    val q = queries.select(col(idCol).as("q_id"), col(vecCol).as("q_vec"),
        explode(tableBuckets(col(vecCol))).as("tb"))
      .select(col("q_id"), col("q_vec"), col("tb.tbl"),
        explode(array_distinct(concat(
          array(col("tb.bucket")),
          slice(transform(sequence(lit(0), lit(bits - 1)),
            i => col("tb.bucket").bitwiseXOR(call_function("shiftleft", lit(1L), i))),
            1, math.max(probes, 0))))).as("bucket"))

    rankTopK(c.join(broadcast(q), Seq("tbl", "bucket"))
        .where(if (excludeSelf) col("q_id") =!= col("n_id") else lit(true))
        .select(col("q_id"), col("q_vec"), col("n_id"), col("n_vec"))
        .dropDuplicates("q_id", "n_id"),
      cosine(col("q_vec"), col("n_vec")), k)
  }

  /** Recall/selectivity sweep for LSH bucket-prefix lengths — the
    * tuning curve an operator reads before fixing an ANN config: for
    * each prefix length b (the first b of `bits` hyperplane signs),
    * candidates are corpus items sharing the query's b-bit prefix;
    * the sweep reports, per b, the mean candidate-set size (scan cost)
    * and mean recall@k against the exact brute-force top-k. Longer
    * prefixes scan less and recall less — this makes the trade
    * measurable instead of guessed.
    *
    * Scale shape: ONE corpus scan computes the bucket map-side and
    * explodes it to the `levels.size` (level, prefix) keys (r21 —
    * previously the whole candidate/rank/recall pipeline ran once PER
    * level: `levels.size` corpus scans and join/window rounds where
    * one suffices); one hash join against the broadcast query
    * prefixes, and a per-(level, query) window on the (pruned)
    * candidate set — the corpus never shuffles. Truth is one brute
    * pass (broadcast queries). It is an EVAL op — at 100 TB run it
    * over a sampled corpus slice, then apply the chosen config
    * corpus-wide. Returns (prefix_bits, n_queries, avg_candidates,
    * mean_recall) — one row per level.
    */
  def recallCurve(queries: DataFrame, corpus: DataFrame,
                  idCol: String, vecCol: String, k: Int,
                  bits: Int = 8, levels: Seq[Int] = Seq(2, 4, 6, 8),
                  seed: Long = 42L, dim: Int = 64): DataFrame = {
    require(levels.nonEmpty && levels.forall(b => b >= 1 && b <= bits),
      s"levels must be within [1, $bits], got $levels")
    // duplicate levels would merge into ONE exploded group (n_queries
    // doubled) instead of the documented one-row-per-level — reject
    // loudly rather than silently change shape (ADVICE r21)
    require(levels.distinct.size == levels.size,
      s"levels must be distinct, got $levels")
    val planes = hyperplanes(bits, dim, seed)
    val truth = bruteForceTopK(queries, corpus, idCol, vecCol, k)
      .select(col("q_id").as("t_qid"), col("n_id").as("t_nid"))
    // every level's prefix derives from the SAME bucket value — explode
    // the (level, prefix) pairs map-side on both sides and key the one
    // join (and the one window pass) by (level, prefix) / (level, q_id)
    def withLevels(df: DataFrame): DataFrame =
      df.withColumn("lv", explode(array(levels.map { b =>
          struct(lit(b).as("b"),
            shiftright(col("_bk"), bits - b).as("pfx"))
        }: _*)))
        .select(df.columns.filter(_ != "_bk").map(col) :+
          col("lv.b").as("b") :+ col("lv.pfx").as("pfx"): _*)
    val c = withLevels(corpus.select(col(idCol).as("n_id"),
      col(vecCol).as("n_vec"), lshBucket(col(vecCol), planes).as("_bk")))
    val q = withLevels(queries.select(col(idCol).as("q_id"),
      col(vecCol).as("q_vec"), lshBucket(col(vecCol), planes).as("_bk")))
    val wSort = Window.partitionBy(col("b"), col("q_id"))
      .orderBy(col("cos").desc, col("n_id"))
    val wAll = Window.partitionBy(col("b"), col("q_id"))
    // rank and candidate count share the (level, q_id) partitioning —
    // one shuffle; n_cand rides every row so the top-k cut keeps it
    val topk = c.join(broadcast(q), Seq("b", "pfx"))
      .where(col("q_id") =!= col("n_id"))
      .withColumn("cos", round(cosine(col("q_vec"), col("n_vec")), 5))
      .withColumn("rank", row_number().over(wSort))
      .withColumn("n_cand", count(lit(1)).over(wAll))
      .where(col("rank") <= k)
    val perQ = topk
      .join(broadcast(truth),
        col("q_id") === col("t_qid") && col("n_id") === col("t_nid"), "left")
      .groupBy(col("b"), col("q_id"))
      .agg(max(col("n_cand")).as("n_cand"),
        sum(when(col("t_nid").isNotNull, 1).otherwise(0)).as("hits"))
    // left join from the (query × level) universe: a query with an
    // empty candidate set is a recall-0 data point, not a dropped row
    // (perQ is ≤|queries|·|levels| rows — broadcast, don't sort-merge)
    val qIds = queries.select(col(idCol).as("q_id"))
      .withColumn("b", explode(array(levels.map(lit(_)): _*)))
    qIds.join(broadcast(perQ), Seq("b", "q_id"), "left")
      .groupBy(col("b"))
      .agg(
        count(lit(1)).cast("long").as("n_queries"),
        round(avg(coalesce(col("n_cand"), lit(0L)).cast("double")), 6)
          .as("avg_candidates"),
        round(avg(coalesce(col("hits"), lit(0L)).cast("double") / k), 6)
          .as("mean_recall"))
      .select(col("b").as("prefix_bits"), col("n_queries"),
        col("avg_candidates"), col("mean_recall"))
      .orderBy(col("prefix_bits"))
  }

  /** Train product-quantization sub-codebooks (Jégou et al. 2011):
    * per subspace, L2 k-means over the corpus's normalized
    * sub-vectors. One corpus scan per Lloyd iteration covers ALL m
    * subspaces (the vector explodes into m (j, sub-vector) rows, the
    * codegen PqArgminExpr assigns each to its subspace's nearest
    * entry, means regroup by (j, entry, pos)). Driver state is
    * m·ksub·(dim/m) = ksub·dim doubles — corpus-size independent,
    * the identical contract to [[trainIvfCentroids]]. Deterministic:
    * hash-ordered sample seeds, empty entries keep their seed.
    */
  def trainPqCodebooks(corpus: DataFrame, idCol: String, vecCol: String,
                       m: Int, ksub: Int,
                       iters: Int = 2): Array[Array[Array[Double]]] = {
    import graft.functions.PqFunctions
    require(ksub >= 2 && ksub <= 256,
      s"ksub must be in [2, 256] (codes are one byte), got $ksub")
    val seedRows = corpus
      .select(PqFunctions.pq_subvectors(col(vecCol), m).as("svs"),
        xxhash64(col(idCol)).as("h"))
      .orderBy(col("h")).limit(ksub).select(col("svs"))
      .collect()
      .map(_.getSeq[scala.collection.Seq[Double]](0).map(_.toArray).toArray)
    seedRows.headOption.foreach { svs =>
      val dim = svs.map(_.length).sum
      require(dim % m == 0,
        s"embedding dim $dim is not divisible by m=$m — tail dimensions would be dropped")
    }
    var cb: Array[Array[Array[Double]]] =
      Array.tabulate(m)(j => seedRows.map(_(j)))

    for (_ <- 1 to iters) {
      val subs = corpus.select(
        posexplode(PqFunctions.pq_subvectors(col(vecCol), m)).as(Seq("j", "sv")))
      val means = subs
        .select(col("j"), PqFunctions.pq_argmin(col("j"), col("sv"), cb).as("c"),
          posexplode(col("sv")).as(Seq("pos", "x")))
        .groupBy(col("j"), col("c"), col("pos"))
        .agg(avg(col("x")).as("mean"))
        .collect() // ≤ m·ksub·(dim/m) rows — the codebook, nothing more
      val byCell = means.groupBy(r => (r.getInt(0), r.getInt(1)))
      cb = Array.tabulate(m) { j =>
        Array.tabulate(cb(j).length) { c =>
          byCell.get((j, c)) match {
            case Some(rows) =>
              val v = new Array[Double](cb(j)(c).length)
              rows.foreach(r => v(r.getInt(2)) = r.getDouble(3))
              v
            case None => cb(j)(c) // empty entry keeps its seed
          }
        }
      }
    }
    cb
  }

  /** Product-quantized brute top-k: the corpus is stored as m
    * one-byte codes per vector (dim=64, m=8: 32× smaller than float32
    * — the difference between an in-memory scan and a disk-bound one
    * at 1e9+ vectors), queries stay exact and score against codebook
    * reconstructions (asymmetric distance). Same plan shape as
    * [[bruteForceTopK]]: probes broadcast, corpus never shuffled.
    * Compose with the IVF cell route for probe pruning at scale; the
    * recall/compression trade vs [[bruteQuantTopK]]'s int8 (4×,
    * near-exact) is the standard PQ dial, pinned by KnnSpec.
    */
  def pqTopK(queries: DataFrame, corpus: DataFrame,
             idCol: String, vecCol: String, k: Int,
             m: Int = 16, ksub: Int = 64, iters: Int = 2,
             excludeSelf: Boolean = true): DataFrame =
    pqTopKWith(trainPqCodebooks(corpus, idCol, vecCol, m, ksub, iters),
      queries, corpus, idCol, vecCol, k, excludeSelf)

  /** [[pqTopK]] with an already-trained codebook — pair with
    * [[savePqCodebooks]]/[[loadPqCodebooks]] for build-once indexing.
    */
  def pqTopKWith(cb: Array[Array[Array[Double]]],
                 queries: DataFrame, corpus: DataFrame,
                 idCol: String, vecCol: String, k: Int,
                 excludeSelf: Boolean = true): DataFrame = {
    import graft.functions.PqFunctions
    val n2 = graft.functions.PqKernels.norm2Table(cb)
    val c = corpus.select(col(idCol).as("n_id"),
      PqFunctions.pq_encode(col(vecCol), cb).as("codes"))
    // ADC: the per-query dot table is computed ONCE on the (broadcast)
    // probe side — scoring a corpus row is then O(m) lookups, not
    // O(dim) multiplies
    val q = queries.select(col(idCol).as("q_id"),
      PqFunctions.pq_lut(col(vecCol), cb).as("q_lut"))
    rankTopK(c.join(broadcast(q),
        if (excludeSelf) col("q_id") =!= col("n_id") else lit(true)),
      PqFunctions.pq_lut_score(col("q_lut"), col("codes"), n2), k)
  }

  /** The full production ANN composition — IVF probe pruning over a
    * PQ-coded corpus (FAISS's IVFPQ shape): the corpus row is
    * (cell, m codes) ≈ 20 bytes/vector, a query touches only its
    * `probes` nearest cells, and scoring is asymmetric-distance
    * against codebook reconstructions. At scale the corpus is written
    * bucketed by cell: a probe is a pruned scan of compressed codes —
    * both index structures' driver state stays corpus-size
    * independent (cells·dim + ksub·dim doubles).
    */
  def ivfPqTopK(queries: DataFrame, corpus: DataFrame,
                idCol: String, vecCol: String, k: Int,
                cells: Int = 16, probes: Int = 4,
                m: Int = 16, ksub: Int = 64, iters: Int = 2,
                excludeSelf: Boolean = true): DataFrame = {
    // The two trainers are INDEPENDENT collect loops (IVF centroids vs
    // PQ codebooks) whose jobs otherwise run strictly back to back —
    // submit them from two driver threads so each trainer's scheduling
    // gaps and stage tails back-fill with the other's tasks (guide
    // §2.6 "overlap independent jobs"). Results are identical: each
    // trainer is deterministic and shares nothing but the immutable
    // corpus frame. The centroid trainer runs on a thread of its own
    // that carries the caller's SparkContext local properties (job
    // group, tags, scheduler pool) and active session, and it is awaited
    // even when the PQ trainer throws, so no trainer job outlives the call.
    val pool = java.util.concurrent.Executors.newSingleThreadExecutor()
    try {
      val fCents = SQLExecution.withThreadLocalCaptured(
        corpus.sparkSession.asInstanceOf[classic.SparkSession], pool)(
        trainIvfCentroids(corpus, idCol, vecCol, cells, iters))
      val cb = try trainPqCodebooks(corpus, idCol, vecCol, m, ksub, iters)
        finally fCents.handle[Unit]((_, _) => ()).join()
      val cents = try fCents.join()
        catch { case e: java.util.concurrent.CompletionException => throw e.getCause }
      ivfPqTopKWith(cents, cb,
        queries, corpus, idCol, vecCol, k, probes, excludeSelf)
    } finally pool.shutdown()
  }

  /** [[ivfPqTopK]] with already-trained models — the persisted-index
    * probe path.
    */
  def ivfPqTopKWith(cents: Array[Array[Double]], cb: Array[Array[Array[Double]]],
                    queries: DataFrame, corpus: DataFrame,
                    idCol: String, vecCol: String, k: Int,
                    probes: Int = 4, excludeSelf: Boolean = true): DataFrame = {
    import graft.functions.PqFunctions
    val n2 = graft.functions.PqKernels.norm2Table(cb)
    val c = corpus.select(col(idCol).as("n_id"),
      VectorFunctions.ivf_cell(col(vecCol), cents).as("cell"),
      PqFunctions.pq_encode(col(vecCol), cb).as("codes"))
    val q = queries.select(col(idCol).as("q_id"),
      PqFunctions.pq_lut(col(vecCol), cb).as("q_lut"),
      explode(VectorFunctions.ivf_probe_cells(col(vecCol), cents, probes)).as("cell"))
    rankTopK(c.join(broadcast(q), Seq("cell"))
        .where(if (excludeSelf) col("q_id") =!= col("n_id") else lit(true)),
      PqFunctions.pq_lut_score(col("q_lut"), col("codes"), n2), k)
  }

  /** Margin-based bitext mining (Artetxe & Schwenk 2019, the
    * LASER/CCMatrix parallel-corpus miner): for every source item its
    * best target match, scored by the RATIO margin
    * cos(x,y) / (½·(avgₖ(x→tgt) + avgₖ(y→src))) — normalizing by each
    * side's local neighborhood density kills the hubness failure of
    * raw-cosine thresholding. Pairs with margin ≥ `threshold` are the
    * mined bitext; this is the standard MT-training-data construction
    * and equally the cross-corpus alignment step of multimodal /
    * multilingual curation.
    *
    * Scale shape: by default both k-NN passes are [[bruteForceTopK]]
    * probes-broadcast scans; pass `cents` (a trained IVF centroid
    * table, [[trainIvfCentroids]]/[[loadIvfIndex]]) to run both
    * passes through [[ivfTopKWith]] instead — each query then scans
    * only its `probes` probed cells, never the whole corpus, which is
    * the corpus-scale path (the margin arithmetic is independent of
    * how the neighbor lists were produced; with probes = cells the
    * two variants are identical, KnnSpec-pinned). The avgₖ tables are
    * one row per item and join back keyed on the ids; nothing is
    * all-pairs beyond the neighbor search itself. Cosines round to
    * 5 dp BEFORE averaging and the margin to 5 dp before
    * thresholding, so the construction replays bit-stably in the
    * oracle.
    */
  def marginMining(src: DataFrame, tgt: DataFrame,
                   idCol: String, vecCol: String, k: Int = 4,
                   threshold: Double = 1.0,
                   cents: Option[Array[Array[Double]]] = None,
                   probes: Int = 4): DataFrame = {
    def topK(queries: DataFrame, corpus: DataFrame): DataFrame = cents match {
      case Some(ct) =>
        ivfTopKWith(ct, queries, corpus, idCol, vecCol, k, probes,
          excludeSelf = false)
      case None =>
        bruteForceTopK(queries, corpus, idCol, vecCol, k, excludeSelf = false)
    }
    val fwd = topK(src, tgt)
    val cand = fwd.where(col("rank") === 1)
      .select(col("q_id").as("src_id"), col("n_id").as("tgt_id"), col("cos"))
    // only the ≤|src| rank-1 candidate targets need a backward
    // average — semi-join tgt down to them BEFORE the backward pass,
    // so its probe broadcast and scan are |candidates|-bounded rather
    // than |tgt|-sized (the margin values are identical)
    val candTgt = tgt.join(
      broadcast(cand.select(col("tgt_id").as(idCol)).distinct()),
      Seq(idCol), "left_semi")
    val bwd = topK(candTgt, src)
    val avgFwd = fwd.groupBy(col("q_id").as("src_id"))
      .agg(avg(col("cos")).as("a_src"))
    val avgBwd = bwd.groupBy(col("q_id").as("tgt_id"))
      .agg(avg(col("cos")).as("a_tgt"))
    val margin = round(col("cos") / (lit(0.5) * (col("a_src") + col("a_tgt"))), 5)
    cand.join(avgFwd, Seq("src_id")).join(avgBwd, Seq("tgt_id"))
      .select(col("src_id"), col("tgt_id"), col("cos"), margin.as("margin"))
      .where(col("margin") >= threshold)
  }

  /** Maximal Marginal Relevance selection (Carbonell & Goldstein
    * 1998): greedily pick `k` items maximizing
    * λ·rel(d) − (1−λ)·max_{s∈selected} cos(d, s) — the diversity-
    * aware re-rank that keeps a retrieval pool or an eval set from
    * filling up with near-duplicates of its best hit (the selection
    * complement of the dedup family: instead of removing near-dups,
    * never pick them).
    *
    * Scale shape: the candidate pool reduces to top-`poolK` by
    * relevance through TakeOrdered (no global sort), and the greedy
    * loop — inherently sequential — runs on the driver over that
    * BOUNDED pool (k·poolK cosines on poolK-row state; the IVF
    * centroid-pull precedent). Relevance rounds to 5 dp before
    * selection and ties break by id, so the selection is
    * deterministic at any partition layout.
    */
  def mmrSelect(candidates: DataFrame, idCol: String, vecCol: String,
                relCol: String, k: Int, lambda: Double = 0.7,
                poolK: Int = 200): DataFrame = {
    require(k > 0 && poolK >= k && lambda >= 0 && lambda <= 1,
      "mmrSelect: need k > 0, poolK >= k, lambda in [0,1]")
    val spark = candidates.sparkSession
    // id stays its ORIGINAL type (string doc ids work like everywhere
    // else in this family); NaN/null relevance rows are dropped —
    // NaN sorts above every finite value under desc and would both
    // displace real candidates and break the max comparisons
    val poolRows = candidates
      .select(col(idCol), col(vecCol).cast("array<float>").as("v"),
        round(col(relCol).cast("double"), 5).as("rel"))
      .where(col("rel").isNotNull && !isnan(col("rel")) && col("v").isNotNull)
      .orderBy(col("rel").desc, col(idCol)).limit(poolK)
      .collect()
    val n = poolRows.length
    val ids = poolRows.map(_.get(0))
    val rels = poolRows.map(_.getDouble(2))
    // unit-normalize once; cosine thereafter is a plain dot product
    val vecs = poolRows.map { r =>
      val a = r.getSeq[Float](1).toArray
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i).toDouble * a(i); i += 1 }
      val norm = math.sqrt(s)
      if (norm == 0) new Array[Double](a.length)
      else a.map(_ / norm)
    }
    val dim = if (n > 0) vecs(0).length else 0
    require(vecs.forall(_.length == dim),
      "mmrSelect: embedding dimensions differ within the pool")
    @inline def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < dim) { s += a(i) * b(i); i += 1 }
      s
    }
    // incremental greedy: maxSim(i) tracks each candidate's best
    // similarity to the selected set and only updates against the
    // NEWEST pick — k·poolK dot products total, not k²·poolK.
    // Initialized to -inf so an all-negative neighborhood keeps its
    // anti-similarity BONUS exactly as Carbonell-Goldstein write the
    // formula (a 0 floor would drop it); the first pick has no
    // selected set, so its diversity term is defined as 0 (pure
    // relevance — the standard first step).
    val maxSim = Array.fill(n)(Double.NegativeInfinity)
    val taken = new Array[Boolean](n)
    val out = Seq.newBuilder[org.apache.spark.sql.Row]
    var pickedCount = 0
    val target = math.min(k, n)
    while (pickedCount < target) {
      var best = -1; var bestScore = Double.NegativeInfinity
      var i = 0
      while (i < n) {
        if (!taken(i)) {
          val s =
            if (pickedCount == 0) lambda * rels(i)
            else lambda * rels(i) - (1.0 - lambda) * maxSim(i)
          // strict > with candidates in (rel desc, id) order = ties
          // break toward higher relevance then lower id — deterministic
          if (s > bestScore) { bestScore = s; best = i }
        }
        i += 1
      }
      taken(best) = true
      out += org.apache.spark.sql.Row(ids(best), rels(best),
        math.rint(bestScore * 100000).toDouble / 100000, pickedCount + 1)
      i = 0
      while (i < n) {
        if (!taken(i)) {
          val sim = dot(vecs(i), vecs(best))
          if (sim > maxSim(i)) maxSim(i) = sim
        }
        i += 1
      }
      pickedCount += 1
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      candidates.schema(idCol).copy(name = idCol),
      org.apache.spark.sql.types.StructField("rel",
        org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("mmr_score",
        org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("rank",
        org.apache.spark.sql.types.IntegerType)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(out.result(), 1), schema)
  }
}
