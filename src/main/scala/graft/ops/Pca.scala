package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Exact principal-component analysis over an embedding column — the
  * optimal linear projection (Pearson 1901; the eigendecomposition
  * formulation in any standard text, e.g. Jolliffe, "Principal
  * Component Analysis") complementing [[graft.functions.Projections]]'s
  * distance-preserving-in-expectation sign random projection: SRP needs
  * no data pass, PCA spends one to capture the MOST variance any
  * k-dimensional linear map can.
  *
  * Scale shape: the fit is ONE distributed pass computing the moment
  * statistics — per partition a (count, sum[d], gram[d·d]) triple, then
  * an elementwise reduce — so driver state is O(d²) (d=64 → 32 KB)
  * regardless of corpus size; the eigendecomposition of the d×d
  * covariance is driver arithmetic (Breeze, on Spark's classpath).
  * Projection is a broadcast-free codegen column expression (the basis
  * bakes into literals), a narrow map at scan speed like SRP.
  *
  * Determinism: eigenvectors are sign-ambiguous, so each is flipped to
  * make its largest-|component| coordinate positive (first index on
  * ties) — two fits of the same data produce the identical model.
  */
object Pca {

  /** `basis(i)` is the i-th principal direction (unit length, sign-
    * fixed), ordered by descending eigenvalue. */
  final case class Model(
      dim: Int,
      mean: Array[Double],
      basis: Array[Array[Double]],
      eigenvalues: Array[Double],
      totalVariance: Double) {
    def varianceExplained: Double =
      if (totalVariance <= 0.0) 0.0 else eigenvalues.sum / totalVariance
  }

  /** One-pass moments → covariance → top-`k` eigenpairs. */
  def fit(df: DataFrame, k: Int, embCol: String = "embedding"): Model = {
    val spark = df.sparkSession
    import spark.implicits._
    val d = df.select(size(col(embCol))).head().getInt(0)
    require(k >= 1 && k <= d, s"k must be in [1, $d], got $k")
    val (n, s, g) = df.select(col(embCol)).as[Array[Float]]
      .mapPartitions { it =>
        var cnt = 0L
        val sum = new Array[Double](d)
        val gram = new Array[Double](d * d)
        it.foreach { v =>
          cnt += 1
          var i = 0
          while (i < d) {
            val vi = v(i).toDouble
            sum(i) += vi
            var j = 0
            // lower triangle only; symmetrized on the driver
            while (j <= i) { gram(i * d + j) += vi * v(j); j += 1 }
            i += 1
          }
        }
        Iterator.single((cnt, sum, gram))
      }
      .reduce { (a, b) =>
        var i = 0
        while (i < d) { a._2(i) += b._2(i); i += 1 }
        i = 0
        while (i < d * d) { a._3(i) += b._3(i); i += 1 }
        (a._1 + b._1, a._2, a._3)
      }
    require(n > 1, s"PCA needs at least 2 rows, got $n")
    val mean = s.map(_ / n)
    val cov = breeze.linalg.DenseMatrix.tabulate(d, d) { (i, j) =>
      val lo = if (i >= j) g(i * d + j) else g(j * d + i)
      lo / n - mean(i) * mean(j)
    }
    val es = breeze.linalg.eigSym(cov)
    // breeze orders eigenvalues ascending; take the top k descending
    val order = (0 until d).sortBy(i => -es.eigenvalues(i)).take(k)
    val basis = order.map { idx =>
      val v = Array.tabulate(d)(r => es.eigenvectors(r, idx))
      // sign fix: largest-|component| coordinate positive, first on ties
      var best = 0
      var i = 1
      while (i < d) { if (math.abs(v(i)) > math.abs(v(best))) best = i; i += 1 }
      if (v(best) < 0) v.map(-_) else v
    }.toArray
    val eigenvalues = order.map(es.eigenvalues(_)).toArray
    Model(d, mean, basis, eigenvalues, breeze.linalg.trace(cov))
  }

  /** Projection onto component `i` as a codegen column: the strictly
    * left-associative fold Σ_j basis(i)(j)·emb[j] minus the baked
    * center offset — basis and offset are literals, so this is narrow
    * whole-stage-codegen arithmetic like the SRP projection. */
  def projectComponent(model: Model, emb: Column, i: Int): Column = {
    require(i >= 0 && i < model.basis.length, s"component $i of ${model.basis.length}")
    val b = model.basis(i)
    val offset = b.zip(model.mean).map { case (w, m) => w * m }.sum
    val dot = (0 until model.dim)
      .map(j => element_at(emb, j + 1).cast("double") * lit(b(j)))
      .reduceLeft(_ + _)
    dot - lit(offset)
  }

  /** All `k` projected coordinates as columns `pc0..pc(k-1)` appended. */
  def project(df: DataFrame, model: Model, embCol: String = "embedding"): DataFrame =
    model.basis.indices.foldLeft(df) { (acc, i) =>
      acc.withColumn(s"pc$i", projectComponent(model, col(embCol), i))
    }
}
