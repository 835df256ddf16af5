package graft.sim

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Principal component analysis over embedding columns — the linear
  * dimensionality-reduction / whitening step of an embedding pipeline
  * (the classical counterpart of the engine's nonlinear reducers,
  * `score.LinearAE` / `score.MlpAE`; the reference family's Dense-AE
  * bottleneck serves the same role in `app/AE_model.py`).
  *
  * Fit is the standard two-level split the model family uses
  * engine-wide, but with the STATISTICS distributed and only the
  * eigenproblem on the driver: one `treeAggregate` pass accumulates
  * (n, Σx, upper-triangular Σxxᵀ) in primitive arrays — O(d²) state
  * per partition, one merge tree, no shuffle of the data — then the
  * d×d covariance eigendecomposes driver-side by cyclic Jacobi
  * (deterministic rotation order, sign-normalized eigenvectors), which
  * is exact territory for d in the hundreds. Transform is k dot
  * products per row against broadcast-literal components
  * (`GraftFunctions.dot`, the codegen'd native kernel) minus precomputed scalar offsets
  * — centering never materializes.
  *
  * At 100 TB: the fit moves d(d+3)/2 doubles per partition up a merge
  * tree (megabytes), the transform is a map stage. The eigensolve cost
  * is independent of row count.
  */
object Pca {

  /** Fitted PCA: `components(j)` is the j-th principal axis (unit
    * norm, largest-|coordinate| positive); `eigenvalues` are the
    * population covariance eigenvalues, descending.
    */
  final case class Model(mean: Array[Double], eigenvalues: Array[Double],
                         components: Array[Array[Double]]) {

    /** Appends `prefix{0..k-1}` score columns: pcⱼ = compⱼ·(x − mean). */
    def transform(df: DataFrame, vecCol: String,
                  prefix: String = "pc"): DataFrame =
      components.zipWithIndex.foldLeft(df) { case (acc, (comp, j)) =>
        val offset = comp.zip(mean).map { case (c, m) => c * m }.sum
        acc.withColumn(s"$prefix$j",
          GraftFunctions.dot(col(vecCol), typedLit(comp.toSeq)) - lit(offset))
      }

    /** Fraction of total variance captured by the leading components. */
    def explainedVariance: Array[Double] = {
      val tot = eigenvalues.sum
      if (tot > 0) eigenvalues.map(_ / tot) else eigenvalues.map(_ => 0.0)
    }
  }

  /** Fit a k-component PCA on an `array<float|double>` column. Rows
    * with null vectors are ignored; all vectors must share one length.
    */
  def fit(df: DataFrame, vecCol: String, k: Int): Model = {
    require(k >= 1, s"Pca.fit needs k >= 1: $k")
    val data = df.select(col(vecCol).cast("array<double>").as("v"))
      .where(col("v").isNotNull)
      .rdd.map(_.getSeq[Double](0).toArray)
    val d = data.first().length
    require(k <= d, s"k = $k exceeds dimension $d")
    val tri = d * (d + 1) / 2
    // (n, Σx, upper-tri Σ x xᵀ) accumulated per partition in primitive
    // arrays, then merged on the driver in PARTITION-INDEX order: a
    // treeAggregate/fold would combine partials in task-COMPLETION
    // order, which varies run to run and perturbs the double sums in
    // the last ulp — this fit is bitwise-reproducible instead. Partial
    // size is d(d+3)/2 doubles per partition — driver-safe at any row
    // count.
    val partials = data.mapPartitionsWithIndex { (idx, it) =>
      var cnt = 0L
      val sum = new Array[Double](d)
      val cross = new Array[Double](tri)
      it.foreach { x =>
        require(x.length == d, s"vector length ${x.length} != $d")
        var i = 0
        var t = 0
        while (i < d) {
          sum(i) += x(i)
          var j = i
          while (j < d) { cross(t) += x(i) * x(j); j += 1; t += 1 }
          i += 1
        }
        cnt += 1
      }
      Iterator((idx, (cnt, sum, cross)))
    }.collect().sortBy(_._1).map(_._2)
    val (n, s, ss) = partials.reduceLeft { (a, b) =>
      val (n1, s1, c1) = a
      val (n2, s2, c2) = b
      var i = 0
      while (i < d) { s1(i) += s2(i); i += 1 }
      var t = 0
      while (t < tri) { c1(t) += c2(t); t += 1 }
      (n1 + n2, s1, c1)
    }
    require(n >= 2, s"Pca.fit needs at least 2 vectors: $n")
    val mean = s.map(_ / n)
    val cov = Array.ofDim[Double](d, d)
    var i = 0
    var t = 0
    while (i < d) {
      var j = i
      while (j < d) {
        val c = ss(t) / n - mean(i) * mean(j)
        cov(i)(j) = c
        cov(j)(i) = c
        j += 1
        t += 1
      }
      i += 1
    }
    val (evals, evecs) = jacobiEigen(cov)
    // order by eigenvalue descending (stable on ties), normalize signs
    val order = evals.indices.sortBy(idx => (-evals(idx), idx))
    val top = order.take(k).toArray
    val comps = top.map { idx =>
      val v = evecs.map(_(idx))
      val pivot = v.indices.maxBy(p => math.abs(v(p)))
      if (v(pivot) < 0) v.map(x => -x) else v
    }
    Model(mean, top.map(evals), comps)
  }

  /** Cyclic Jacobi eigendecomposition of a symmetric matrix: returns
    * (eigenvalues, eigenvector matrix with eigenvectors in COLUMNS).
    * Deterministic: fixed (p, q) sweep order, closed-form rotations.
    */
  private[graft] def jacobiEigen(m: Array[Array[Double]],
                               maxSweeps: Int = 64,
                               tol: Double = 1e-14): (Array[Double], Array[Array[Double]]) = {
    val d = m.length
    val a = m.map(_.clone())
    val v = Array.tabulate(d, d)((i, j) => if (i == j) 1.0 else 0.0)
    var sweep = 0
    var off = offNorm(a)
    val scale = math.max(1.0, frobenius(a))
    while (off > tol * scale && sweep < maxSweeps) {
      var p = 0
      while (p < d - 1) {
        var q = p + 1
        while (q < d) {
          if (math.abs(a(p)(q)) > tol * scale / (d.toDouble * d)) {
            // closed-form symmetric Schur rotation (Golub & Van Loan)
            val theta = (a(q)(q) - a(p)(p)) / (2.0 * a(p)(q))
            val tTan = math.signum(theta) match {
              case 0.0 => 1.0 / (theta + math.sqrt(theta * theta + 1.0))
              case sg => sg / (math.abs(theta) + math.sqrt(theta * theta + 1.0))
            }
            val c = 1.0 / math.sqrt(tTan * tTan + 1.0)
            val sN = tTan * c
            var r = 0
            while (r < d) {
              val arp = a(r)(p); val arq = a(r)(q)
              a(r)(p) = c * arp - sN * arq
              a(r)(q) = sN * arp + c * arq
              r += 1
            }
            var cCol = 0
            while (cCol < d) {
              val apc = a(p)(cCol); val aqc = a(q)(cCol)
              a(p)(cCol) = c * apc - sN * aqc
              a(q)(cCol) = sN * apc + c * aqc
              cCol += 1
            }
            var rv = 0
            while (rv < d) {
              val vrp = v(rv)(p); val vrq = v(rv)(q)
              v(rv)(p) = c * vrp - sN * vrq
              v(rv)(q) = sN * vrp + c * vrq
              rv += 1
            }
          }
          q += 1
        }
        p += 1
      }
      off = offNorm(a)
      sweep += 1
    }
    (Array.tabulate(d)(i => a(i)(i)), v)
  }

  private def offNorm(a: Array[Array[Double]]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) {
      var j = i + 1
      while (j < a.length) { s += 2.0 * a(i)(j) * a(i)(j); j += 1 }
      i += 1
    }
    math.sqrt(s)
  }

  private def frobenius(a: Array[Array[Double]]): Double = {
    var s = 0.0
    for (row <- a; x <- row) s += x * x
    math.sqrt(s)
  }
}
