package graft.dedup

import graft.core.Caches
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Connected components over a near-duplicate pair list — the final
  * dedup step: pairs (a≈b) become clusters, each cluster keeps one
  * canonical representative (the min id).
  *
  * Algorithm: iterative min-label propagation. Each vertex starts
  * labeled with its own id; every round each vertex takes the min of
  * its label and its neighbors' labels; converges to the component's
  * global min id in ≤ diameter rounds. Deterministic (min is
  * order-free), expressible as joins+groupBy — the standard
  * Pregel-style shape. Near-dup graphs are shallow (clusters are
  * cliques or near-cliques from pair generation), so the loop ends in
  * 2-3 rounds; `maxIter` bounds adversarial chains, and each round is
  * one shuffle of (edge, label) pairs at scale.
  */
object Components {

  /** (id, component) for every vertex appearing in `pairs`;
    * component = min id reachable.
    */
  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String,
                          maxIter: Int = 20): DataFrame = {
    val e0 = pairs.select(col(aCol).cast("long").as("src"),
      col(bCol).cast("long").as("dst"))
    val edges = Caches.keep("components.cc",
      e0.union(e0.select(col("dst").as("src"), col("src").as("dst")))
        .distinct())
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("component", col("id")).localCheckpoint()
    var changed = 1L
    var it = 0
    while (changed > 0 && it < maxIter) {
      val nbr = edges
        .join(labels.select(col("id").as("dst"), col("component").as("c")), "dst")
        .groupBy(col("src").as("id")).agg(min("c").as("nbr_min"))
      // the pre-step label rides along as `old`, so convergence is a
      // plain agg over the checkpointed result — no extra join job
      val stepped = labels
        .join(nbr, Seq("id"), "left")
        .select(col("id"),
          least(col("component"), coalesce(col("nbr_min"), col("component")))
            .as("component"),
          col("component").as("old"))
      // pointer jumping: also adopt the label OF the current label —
      // halves the effective diameter per round, so a length-D chain
      // converges in O(log D) rounds instead of D (same fixpoint)
      // localCheckpoint TRUNCATES LINEAGE — without it the iterated
      // self-joins double the logical plan every round (pointer jumping
      // squares it) until planning itself blows up; persist() alone
      // caches data but keeps the exponential plan. On a cluster use
      // reliable checkpoint(dir) for fault tolerance instead.
      val next = stepped.as("l")
        .join(stepped.select(col("id").as("component"),
          col("component").as("cc")).as("r"), Seq("component"), "left")
        .select(col("id"),
          least(col("component"), coalesce(col("cc"), col("component")))
            .as("component"),
          col("old"))
        .localCheckpoint()
      changed = next.agg(count(when(col("component") =!= col("old"), 1)))
        .head().getLong(0)
      labels = next.drop("old")
      it += 1
    }
    // labels is checkpointed (lineage truncated); the edge cache is
    // retained for same-operator reruns and swept by the next operator
    labels
  }

  /** Cluster summary: (component, n_members, members min/max). */
  def clusters(pairs: DataFrame, aCol: String, bCol: String): DataFrame =
    connectedComponents(pairs, aCol, bCol)
      .groupBy("component")
      .agg(count(lit(1)).as("n_members"), max("id").as("max_id"))
}
