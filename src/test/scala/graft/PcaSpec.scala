package graft

import org.apache.spark.sql.functions._
import graft.operators.Pca

/** Distributed PCA: Jacobi solver vs known spectra, planted-structure
  * recovery, component orthonormality, the var(projᵢ)=λᵢ and residual
  * identities on the distributed path, and partition-layout
  * insensitivity of the fit.
  */
class PcaSpec extends SparkSuite {
  import spark.implicits._

  test("jacobi: recovers a known diagonal-plus-rotation spectrum") {
    // A = R diag(9,4,1) Rᵀ for a fixed rotation R (Givens 30° in xy)
    val c = math.cos(math.Pi / 6); val s = math.sin(math.Pi / 6)
    val r = Array(Array(c, -s, 0.0), Array(s, c, 0.0), Array(0.0, 0.0, 1.0))
    val d = Array(9.0, 4.0, 1.0)
    val a = Array.tabulate(3, 3)((i, j) =>
      (0 until 3).map(k => r(i)(k) * d(k) * r(j)(k)).sum)
    val (evals, evecs) = Pca.symEigen(a.map(_.clone))
    assert(evals.zip(Seq(9.0, 4.0, 1.0)).forall { case (x, y) => math.abs(x - y) < 1e-10 })
    // eigenvectors: columns of R up to sign
    for (k <- 0 until 3) {
      val dot = math.abs((0 until 3).map(i => evecs(k)(i) * r(i)(k)).sum)
      assert(math.abs(dot - 1.0) < 1e-8, s"evec $k misaligned (|dot|=$dot)")
    }
  }

  private def planted(n: Int) = {
    // x = a·u + b·v + small noise, u ⟂ v in R^8; var(a)=4, var(b)=1
    val u = Array(1.0, 1, 1, 1, 0, 0, 0, 0).map(_ / 2)
    val v = Array(1.0, -1, 1, -1, 0, 0, 0, 0).map(_ / 2)
    val rnd = new scala.util.Random(42)
    (0 until n).map { _ =>
      val a = rnd.nextGaussian() * 2
      val b = rnd.nextGaussian()
      (0 until 8).map(i => (a * u(i) + b * v(i) + rnd.nextGaussian() * 0.01).toFloat)
    }.toDF("embedding")
  }

  test("fit recovers planted 2D structure from float vectors") {
    val model = Pca.fit(planted(2000), "embedding", 2)
    assert(math.abs(model.eigenvalues(0) - 4.0) < 0.3, model.eigenvalues(0))
    assert(math.abs(model.eigenvalues(1) - 1.0) < 0.1, model.eigenvalues(1))
    assert(model.explainedRatio.sum > 0.99) // noise carries < 1%
    // components orthonormal
    for (c <- model.components) {
      val n2 = c.map(x => x * x).sum
      assert(math.abs(n2 - 1.0) < 1e-8)
    }
    val cross = model.components(0).zip(model.components(1)).map { case (a, b) => a * b }.sum
    assert(math.abs(cross) < 1e-8)
  }

  test("distributed identities: var(proj_i) = lambda_i and avg residual = dropped variance") {
    val emb = Tables(spark, sf, "embeddings")
    val model = Pca.fit(emb, "embedding", 4)
    val pv = emb.select(posexplode(Pca.project(col("embedding"), model)).as(Seq("c", "p")))
      .groupBy($"c").agg(var_pop($"p").as("v"))
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    model.eigenvalues.zipWithIndex.foreach { case (ev, i) =>
      assert(math.abs(pv(i) - ev) < 1e-9, s"comp $i: proj var ${pv(i)} vs eigenvalue $ev")
    }
    val avgResid = emb.agg(avg(Pca.residual(col("embedding"), model))).head.getDouble(0)
    val dropped = model.totalVariance - model.eigenvalues.sum
    assert(math.abs(avgResid - dropped) < 1e-9, s"resid $avgResid vs dropped $dropped")
  }

  test("pca projection preserves pairwise distances on low-rank data (the ANN-compression contract)") {
    // PCA's neighbor guarantee is EUCLIDEAN: ||xi−xj||² equals the
    // projected distance plus the residual-space distance, so when the
    // dropped variance is tiny (low intrinsic dimension — the real-
    // embedding regime) distances and hence Euclidean neighbor sets
    // survive the 4× compression. Verify on planted rank-2 vectors.
    val data = planted(400)
    val model = Pca.fit(data, "embedding", 2)
    assert(model.explainedRatio.sum > 0.99)
    val rows = data.select($"embedding".cast("array<double>"),
        Pca.project($"embedding", model).as("p"))
      .collect()
      .map(r => (r.getSeq[Double](0).toArray, r.getSeq[Double](1).toArray))
    def d2(a: Array[Double], b: Array[Double]) =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val errs = for (i <- 0 until 50; j <- i + 1 until 50) yield {
      val full = d2(rows(i)._1, rows(j)._1)
      val red = d2(rows(i)._2, rows(j)._2)
      math.abs(full - red)
    }
    // dropped variance is the noise floor: 8 dims × 0.01² × 2 sides
    assert(errs.max < 0.05, s"max pairwise distance error ${errs.max}")
  }

  test("whitened projections have unit variance per component") {
    val data = planted(1500)
    val model = Pca.fit(data, "embedding", 2)
    val pv = data.select(posexplode(Pca.project($"embedding", model, whiten = true))
        .as(Seq("c", "p")))
      .groupBy($"c").agg(var_pop($"p").as("v"))
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    pv.values.foreach(v => assert(math.abs(v - 1.0) < 1e-9, s"variance $v"))
  }

  test("model persistence: save/load round-trips the fit exactly") {
    val model = Pca.fit(planted(200), "embedding", 3)
    val dir = tempDir("pca_idx").toString
    try {
      Pca.save(spark, model, dir)
      val back = Pca.load(spark, dir)
      assert(back.mean.toSeq === model.mean.toSeq)
      assert(back.components.map(_.toSeq).toSeq === model.components.map(_.toSeq).toSeq)
      assert(back.eigenvalues.toSeq === model.eigenvalues.toSeq)
      assert(back.totalVariance === model.totalVariance && back.n === model.n)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("fit is insensitive to partition layout (same moments, same spectrum)") {
    val data = planted(500)
    val m1 = Pca.fit(data.repartition(2), "embedding", 3)
    val m2 = Pca.fit(data.repartition(7), "embedding", 3)
    m1.eigenvalues.zip(m2.eigenvalues).foreach { case (a, b) =>
      assert(math.abs(a - b) < 1e-9)
    }
    m1.mean.zip(m2.mean).foreach { case (a, b) => assert(math.abs(a - b) < 1e-12) }
  }
}
