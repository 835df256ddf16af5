package graft.sim

import graft.core.Caches
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Local Outlier Factor (Breunig et al., SIGMOD 2000) over cosine
  * dissimilarity — the density-ratio anomaly score that catches what
  * global scores (z-score, Mahalanobis, IsolationForest) miss: a point
  * that is normal globally but isolated RELATIVE to its local
  * neighborhood. Complements the engine's model family (IF / AE /
  * PCA / HBOS are all global-density scores).
  *
  * Definitions (k fixed, neighborhood = the exact k nearest with a
  * total (dist, id) tie order — ties are measure-zero on continuous
  * cosines, and pinning them keeps both engines identical):
  *   k-distance(p) = distance to p's k-th neighbor
  *   reach-dist(p,o) = max(k-distance(o), dist(p,o))
  *   lrd(p) = k / Σ_{o∈N_k(p)} reach-dist(p,o)
  *   LOF(p) = (Σ_{o∈N_k(p)} lrd(o)) / (k · lrd(p))
  *
  * Engine-parity discipline: raw cosines are bitwise identical across
  * engines (the fixed-order fold of `GraftFunctions.dot`), so the kNN ranking
  * is exact; every DERIVED quantity is rounded to micro-units and
  * summed as exact integers (reach-dist at 1e-6, lrd at 1e-6) so no
  * unordered floating sum ever reaches the output — the q121/q96
  * decimal-exact pattern.
  *
  * Scale shape: the all-pairs kNN here is the LABELED BASELINE (the
  * caller pre-filters to an eval subset, as q29 does); the 100 TB path
  * generates candidates with the IVF/LSH machinery (`Ann.ivfTopK`,
  * `Ann.lshTopK`) and re-ranks exactly — LOF's math consumes any
  * exact kNN list unchanged. Everything after the kNN is equi-joins
  * and per-id windows over k-row groups.
  */
object Lof {

  /** Per-point LOF scores: (idCol, lof_e6-ready columns). `df` must
    * hold (idCol, vecCol: array&lt;float&gt;). Returns
    * (id, k_dist_micro, lrd_micro, lof) — lof as double.
    */
  def scores(df: DataFrame, idCol: String, vecCol: String, k: Int): DataFrame = {
    val v = Caches.keep("lof.vectors", df.select(col(idCol).cast("long").as("id"),
        col(vecCol).as("vec"))
      .withColumn("n2", GraftFunctions.norm2(col("vec"))))
    val pairs = v.as("x").join(v.as("y"), col("x.id") =!= col("y.id"))
      .select(col("x.id").as("a"), col("y.id").as("b"),
        (lit(1.0) - GraftFunctions.dot(col("x.vec"), col("y.vec")) /
          (sqrt(col("x.n2")) * sqrt(col("y.n2")))).as("dist"))
    val wRank = Window.partitionBy("a").orderBy(asc("dist"), asc("b"))
    val knn = Caches.keep("lof.knn", pairs.withColumn("rank", row_number().over(wRank))
      .where(col("rank") <= k)
      // micro-unit distance: exact integer from here on
      .withColumn("dist_micro", round(col("dist") * 1e6).cast("long")))
    val kdist = knn.groupBy("a")
      .agg(max("dist_micro").as("k_dist_micro")) // rank-k row has max dist
    // reach-dist(a,b) = max(k-distance(b), dist(a,b)) in micro-units
    val reach = knn.join(kdist.select(col("a").as("b"),
        col("k_dist_micro").as("kd_b")), "b")
      .withColumn("reach_micro", greatest(col("kd_b"), col("dist_micro")))
    // |N_k| counted, not assumed: with n ≤ k rows (or pre-filtered
    // candidate lists shorter than k) the literal k would silently bias
    // every lrd/LOF; on a full fixture count(*) == k and the outputs —
    // and the SQL oracle, which divides by its own per-group counts the
    // same way — are unchanged
    val lrd = Caches.keep("lof.lrd", reach.groupBy("a")
      .agg(sum("reach_micro").as("sum_reach_micro"),
        count(lit(1)).as("n_nbr"))
      // lrd = |N_k| / (sum_reach/1e6); micro-scaled: round(n*1e12/sum)
      .withColumn("lrd_micro",
        round(col("n_nbr") * lit(1e12) / col("sum_reach_micro")).cast("long")))
    val sumLrdB = knn.join(lrd.select(col("a").as("b"),
        col("lrd_micro").as("lrd_b")), "b")
      .groupBy("a").agg(sum("lrd_b").as("sum_lrd_b"),
        count(lit(1)).as("n_nbr_b"))
    sumLrdB.join(lrd, "a").join(kdist, "a")
      .select(col("a").as("id"), col("k_dist_micro"), col("lrd_micro"),
        (col("sum_lrd_b").cast("double") /
          (col("n_nbr_b").cast("double") * col("lrd_micro").cast("double")))
          .as("lof"))
  }
}
