package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** HITS hubs-and-authorities (Kleinberg 1999) by DataFrame power
  * iteration over a directed edge table — the mutual-reinforcement
  * twin of [[PageRank]]: a good hub points at good authorities, a good
  * authority is pointed at by good hubs, and the fixed point is the
  * principal left/right singular-vector pair of the adjacency matrix.
  *
  * Each half-step is one equi-join of the edge table with the current
  * score vector plus one grouped aggregate — the same
  * billions-of-edges-safe shape as [[PageRank.run]] (scores and edge
  * endpoints shuffle; no adjacency collects to the driver). The L2
  * normalization after every half-step is a 1-row aggregate broadcast
  * back with a crossJoin (metadata-sized, the scalar-margin pattern).
  * Score sums accumulate through [[Stats.dsum]] (exact decimal,
  * partition-order-independent) so iterations are bitwise reproducible
  * and the SQL oracle can unroll the same half-steps as CTEs.
  *
  * Score frames `localCheckpoint` every half-step — the
  * iterative-lineage rule (planning blows up exponentially otherwise;
  * persist() does not truncate the plan).
  *
  * DELIBERATE small-graph operating point: each half-step's groupBy
  * ends in `coalesce(1)` + a single-partition window so the L2 norm
  * rides along in ONE blocking job (vs four: checkpoint + 1-row agg +
  * broadcast + rejoin — measured 37.9 → ~4 s at sf0.1, PLANS.md r10).
  * The coalesced frame is one row per NODE — fine up to millions of
  * nodes, the wrong shape for a billions-of-nodes graph, where the
  * separate 1-row-aggregate + broadcast normalizer (the PageRank
  * pattern) should replace it. Edges never coalesce; the per-edge work
  * stays fully parallel either way.
  */
object Hits {

  /** edges: (hub, auth) directed pairs, deduplicated by the caller or
    * not (distinct applied here). Returns (hubScores(hub, h),
    * authScores(auth, a)), both L2-normalized.
    *
    * Each half-step's raw-score frame is localCheckpointed BEFORE its
    * normalizer aggregate: the 1-row norm is a broadcast subtree, and
    * Spark executes broadcast subtrees as separate jobs — against an
    * un-materialized frame the edge join + aggregate would run TWICE
    * per half-step and compound across iterations (measured 37.9 s →
    * 3-4 s at sf0.1 for the q293 graph after this fix). The
    * checkpointed frames are one row per node — cheap to materialize.
    */
  def run(edges: DataFrame, iters: Int = 6,
          cacheKey: String = "hits"): (DataFrame, DataFrame) = {
    val e = edges.select(col("hub"), col("auth")).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    Caches.retain(cacheKey, e)
    val nH = e.select(col("hub")).distinct().count()
    var h = e.select(col("hub")).distinct()
      .select(col("hub"), lit(1.0 / math.sqrt(nH.toDouble)).as("h"))
      .localCheckpoint()
    var a: DataFrame = null
    // the L2 norm rides along as a single-partition window sum over
    // the coalesced per-node frame (exact decimal, same value as a
    // separate 1-row aggregate) — one blocking job per half-step
    // instead of four (checkpoint + norm agg + broadcast + rejoin);
    // measured 37.9 → 11.0 → ~4 s at sf0.1 across the three shapes
    import org.apache.spark.sql.expressions.Window
    val wAll = Window.partitionBy(lit(1))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val D = org.apache.spark.sql.types.DecimalType(38, 10)
    for (_ <- 1 to iters) {
      val ar = e.join(broadcast(h), "hub").groupBy("auth")
        .agg(Stats.dsum(col("h")).as("ar"))
        .coalesce(1)
        .withColumn("an2", sum((col("ar") * col("ar")).cast(D)).over(wAll)
          .cast("double"))
        .localCheckpoint()
      a = ar.select(col("auth"), (col("ar") / sqrt(col("an2"))).as("a"))
      val hr = e.join(broadcast(a), "auth").groupBy("hub")
        .agg(Stats.dsum(col("a")).as("hr"))
        .coalesce(1)
        .withColumn("hn2", sum((col("hr") * col("hr")).cast(D)).over(wAll)
          .cast("double"))
        .localCheckpoint()
      h = hr.select(col("hub"), (col("hr") / sqrt(col("hn2"))).as("h"))
    }
    (h, a)
  }
}
