package graft

import org.apache.spark.sql.functions._

/** Measures the clustersStar long-chain claim against label
  * propagation (SURVEY §6): on a planted path graph of diameter n−1,
  * label propagation needs diameter rounds (one min-label hop per
  * round) while large-star/small-star contraction halves chain length
  * per alternation — O(log n) rounds. Running label prop to
  * convergence at the sizes where this matters is exactly the
  * pathology, so the full-propagation cost is PROJECTED from a
  * measured capped run (per-round cost × diameter) and reported next
  * to star's measured end-to-end time.
  *
  * Usage: runMain graft.ChainBench [n] — default 2000.
  */
object ChainBench {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toInt).getOrElse(2000)
    val lpCap = 20
    val spark = LocalSession(LocalSession.cpus("32"))

    val chain = spark.range(1, n)
      .select(col("id").as("a"), (col("id") + 1).as("b"))

    val t0 = System.nanoTime()
    val star = graft.operators.Dedup.clustersStar(chain, maxIter = 60)
    val starWrong = star.where(col("cluster") =!= 1L).count()
    val starSecs = (System.nanoTime() - t0) / 1e9

    val t1 = System.nanoTime()
    val lp = graft.operators.Dedup.clusters(chain, maxIter = lpCap)
    val lpWrong = lp.where(col("cluster") =!= 1L).count()
    val lpSecs = (System.nanoTime() - t1) / 1e9
    val lpProjected = lpSecs / lpCap * (n - 1)

    // Locale.ROOT: f"" is locale-sensitive (decimal comma → bad JSON)
    def d1(x: Double): String = "%.1f".formatLocal(java.util.Locale.ROOT, x)
    println(s"""{"chain_n":$n,"star_secs":${d1(starSecs)},"star_mislabeled":$starWrong,""" +
      s""""labelprop_cap":$lpCap,"labelprop_capped_secs":${d1(lpSecs)},""" +
      s""""labelprop_mislabeled_at_cap":$lpWrong,""" +
      s""""labelprop_projected_full_secs":${d1(lpProjected)}}""")
    spark.stop()
  }
}
