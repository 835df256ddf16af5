package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** Information-theoretic dependence between two categorical columns —
  * the feature-relevance screen (which categorical column actually
  * carries signal about the label?) that complements the chi-square
  * drift test (`drift.Drift.chi2`) and the per-column entropy quality
  * signal (`text.TextOps.tokenEntropy`).
  *
  * Everything derives from ONE joint-count aggregate over the data
  * (map-side combined, one shuffled row per distinct (a, b) pair per
  * mapper — the q81 vocabulary shape): marginals re-aggregate the tiny
  * joint table, never the data. Entropies and MI are sums of
  * `p·log2(…)` terms over that table; each term is computed in doubles
  * with a FIXED written shape, then summed exactly in DECIMAL partials
  * ([[Stats.dsum]]) so the result is independent of row order and
  * reproducible cross-engine.
  *
  * Returned frame (one row): `h_a`, `h_b` (marginal entropies in
  * bits), `mi` (mutual information), `nmi` (= mi / min(h_a, h_b),
  * the normalized [0,1] dependence score; 0 when either entropy is 0).
  */
object InfoTheory {

  def mutualInfo(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    // null categories are excluded up front: equi-joining marginals
    // back would silently drop null-keyed joint rows anyway (in any
    // engine), turning a definitional choice into a join artifact
    val joint = df.where(col(aCol).isNotNull && col(bCol).isNotNull)
      .groupBy(col(aCol).as("a"), col(bCol).as("b"))
      .agg(count(lit(1)).as("nab"))
    // the joint table is tiny (|A|·|B| rows) — persist so the three
    // re-aggregations below don't recompute the data-wide count; not
    // kept: released before the one-row result is built
    joint.persist(Caches.level)
    val n = joint.agg(sum(col("nab"))).head.getLong(0).toDouble
    val ma = joint.groupBy("a").agg(sum(col("nab")).as("na"))
    val mb = joint.groupBy("b").agg(sum(col("nab")).as("nb"))
    def plogp(cnt: Column): Column = {
      val p = cnt.cast(DoubleType) / lit(n)
      p * log2(p)
    }
    val hA = ma.agg((lit(0.0) - Stats.dsum(plogp(col("na")))).as("h"))
      .head.getDouble(0)
    val hB = mb.agg((lit(0.0) - Stats.dsum(plogp(col("nb")))).as("h"))
      .head.getDouble(0)
    val pab = col("nab").cast(DoubleType) / lit(n)
    val term = pab * log2(
      pab / ((col("na").cast(DoubleType) / lit(n)) *
        (col("nb").cast(DoubleType) / lit(n))))
    val mi = joint.join(broadcast(ma), Seq("a")).join(broadcast(mb), Seq("b"))
      .agg(Stats.dsum(term).as("mi")).head.getDouble(0)
    val nmi = if (math.min(hA, hB) > 0.0) mi / math.min(hA, hB) else 0.0
    joint.unpersist()
    val spark = df.sparkSession
    import spark.implicits._
    Seq((hA, hB, mi, nmi)).toDF("h_a", "h_b", "mi", "nmi")
  }
}
