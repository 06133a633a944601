package graft

import graft.ops.Pca
import org.apache.spark.sql.functions._

/** PCA over the embedding corpus: the treeAggregate covariance pass, the
  * driver-side Jacobi eigensolver, and the map-only projection. Pins
  * orthonormality, variance ordering, projected-variance == eigenvalue,
  * whitening, full-rank reconstruction, bit-determinism across
  * trainings, a hand-checked 2×2 eigensystem, and agreement between the
  * treeAggregate covariance and the quantized SQL face.
  */
class PcaSpec extends SparkSpec {

  private lazy val emb = spark.read.parquet(s"$Sf0001/embeddings.parquet")

  test("jacobiEigen solves a hand-checked 2x2 system") {
    // [[2,1],[1,2]] → eigenvalues 3 (vector [1,1]/√2) and 1 ([1,-1]/√2)
    val (evals, evecs) = Pca.jacobiEigen(Array(Array(2.0, 1.0), Array(1.0, 2.0)))
    val pairs = evals.zipWithIndex.sortBy(-_._1)
    assert(math.abs(pairs(0)._1 - 3.0) < 1e-12 &&
      math.abs(pairs(1)._1 - 1.0) < 1e-12, evals.mkString(","))
    val v0 = Array(evecs(0)(pairs(0)._2), evecs(1)(pairs(0)._2))
    assert(math.abs(math.abs(v0(0)) - 1 / math.sqrt(2)) < 1e-12 &&
      math.abs(v0(0) - v0(1)) < 1e-12, v0.mkString(","))
  }

  test("components are orthonormal with descending non-negative eigenvalues") {
    val m = Pca.train(emb, k = 8)
    assert(m.components.length == 8)
    for (i <- m.components.indices; j <- i until m.components.length) {
      val dot = m.components(i).zip(m.components(j)).map { case (a, b) => a * b }.sum
      val want = if (i == j) 1.0 else 0.0
      assert(math.abs(dot - want) < 1e-9, s"<c$i,c$j> = $dot")
    }
    assert(m.eigenvalues.zip(m.eigenvalues.tail).forall { case (a, b) => a >= b - 1e-12 },
      m.eigenvalues.mkString(","))
    assert(m.eigenvalues.forall(_ >= -1e-12))
  }

  test("projected variance matches the eigenvalue; whitening normalizes it") {
    val m = Pca.train(emb, k = 4)
    val proj = Pca.project(emb, m).cache()
    val n = proj.count().toDouble
    for (ix <- 0 until 4) {
      val c = col("proj").getItem(ix)
      // population variance of the projection == eigenvalue
      val Array(s1, s2) = proj.agg(sum(c), sum(c * c)).head()
        .toSeq.map(_.asInstanceOf[Double]).toArray
      val v = s2 / n - (s1 / n) * (s1 / n)
      assert(math.abs(v - m.eigenvalues(ix)) < 1e-6 * math.max(1, m.eigenvalues(ix)),
        s"axis $ix: var $v vs eig ${m.eigenvalues(ix)}")
    }
    proj.unpersist()
    val white = Pca.project(emb, m, whiten = true).cache()
    for (ix <- 0 until 4) {
      val c = col("proj").getItem(ix)
      val Array(s1, s2) = white.agg(sum(c), sum(c * c)).head()
        .toSeq.map(_.asInstanceOf[Double]).toArray
      val v = s2 / n - (s1 / n) * (s1 / n)
      assert(math.abs(v - 1.0) < 1e-6, s"whitened axis $ix variance $v")
    }
    white.unpersist()
  }

  test("full-rank projection preserves total variance; training is deterministic") {
    val d = emb.select(size(col("embedding"))).head().getInt(0)
    val m = Pca.train(emb, k = d)
    // Σ eigenvalues == total population variance (trace of covariance)
    val stats = emb.select(posexplode(col("embedding").cast("array<double>")))
      .toDF("i", "x").groupBy("i")
      .agg((sum(col("x") * col("x")) / count(lit(1)) -
        (sum(col("x")) / count(lit(1))) * (sum(col("x")) / count(lit(1)))).as("v"))
      .agg(sum(col("v"))).head().getDouble(0)
    assert(math.abs(m.eigenvalues.sum - stats) < 1e-6 * math.max(1, stats),
      s"trace ${m.eigenvalues.sum} vs $stats")
    val m2 = Pca.train(emb, k = d)
    assert(m.mean.sameElements(m2.mean))
    assert(m.eigenvalues.sameElements(m2.eigenvalues))
    assert(m.components.zip(m2.components).forall { case (a, b) => a.sameElements(b) },
      "two trainings disagreed — determinism broken")
  }

  test("treeAggregate covariance agrees with the quantized SQL face") {
    val m = Pca.train(emb, k = 1) // runs the accumulator; we recompute cov below
    assert(m.mean.nonEmpty)
    val sqlFace = SparkEntry.query("embedding_covariance").build(spark, Sf0001)
      .where(col("i") < 4 && col("j") < 4)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    // recompute the same entries from raw doubles (unquantized)
    val rows = emb.select(col("embedding").cast("array<double>"))
      .collect().map(_.getSeq[Double](0).toArray)
    val n = rows.length.toDouble
    for (((i, j), covQ) <- sqlFace) {
      val (ii, jj) = (i.toInt, j.toInt)
      val mi = rows.map(_(ii)).sum / n
      val mj = rows.map(_(jj)).sum / n
      val cov = rows.map(r => (r(ii) - mi) * (r(jj) - mj)).sum / n
      // quantization at 1e-6 keeps the two within a small absolute bound
      assert(math.abs(cov - covQ) < 1e-4, s"cov($i,$j): exact $cov vs quantized $covQ")
    }
  }
}
