package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Synchronous label-propagation community detection (Raghavan et al.
  * 2007), the cheap-and-cheerful community structure pass every graph
  * curation pipeline starts with (reference has no graph layer; this is
  * part of the 100 TB extension family alongside PageRank/k-core/
  * triangles).
  *
  * Determinism — the classic LPA pitfall is random tie-breaks; here the
  * update is a pure function of the previous round: new label(v) =
  * the lexicographically SMALLEST label among those with the MAXIMUM
  * neighbor count. Every round is two grouped aggregates and one
  * equi-join — map-combinable, shuffle keyed on vertex/label, no
  * windows, no cross products. `localCheckpoint` truncates the
  * self-referential lineage each round (the documented iterative-plan
  * OOM trap).
  */
object LabelProp {

  /** Run `rounds` synchronous LPA updates over the UNDIRECTED graph
    * given by (srcCol, dstCol) edge pairs (each edge is doubled
    * internally). Initial label = the vertex id itself. Returns
    * (v, lbl) for every vertex with at least one edge.
    */
  def run(edges: DataFrame, srcCol: String, dstCol: String,
          rounds: Int): DataFrame = {
    require(rounds >= 1, s"LabelProp needs rounds >= 1: $rounds")
    val ed = Caches.keep("labelprop.edges",
      edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
        .union(edges.select(col(dstCol).as("src"), col(srcCol).as("dst"))))
    var labels = ed.select(col("src").as("v")).distinct()
      .withColumn("lbl", col("v"))
    (1 to rounds).foreach { _ =>
      val cnt = ed
        .join(labels.select(col("v").as("src"), col("lbl").as("nl")), "src")
        .groupBy(col("dst").as("v"), col("nl"))
        .agg(count(lit(1)).as("c"))
      val mx = cnt.groupBy("v").agg(max("c").as("mc"))
      labels = cnt.join(mx, "v").where(col("c") === col("mc"))
        .groupBy("v").agg(min("nl").as("lbl")).localCheckpoint()
    }
    labels
  }
}
