package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Weighted PageRank by DataFrame power iteration.
  *
  * Each iteration is two narrow-key operations: an equi-join of the
  * edge table with the current rank vector on the source, and one
  * grouped aggregate on the destination — the shape that scales to
  * billions of edges (ranks and edge endpoints shuffle; no adjacency
  * ever collects to the driver). Contributions accumulate through
  * [[Stats.dsum]] (exact decimal, partition-order-independent), so
  * ranks are bitwise reproducible and oracle-comparable.
  *
  * Every third iteration `localCheckpoint`s the 1-row-per-node rank
  * frame: iterative lineage otherwise grows without bound and the
  * PLANNING itself blows up (the label-propagation lesson — persist()
  * does not truncate the plan). Checkpointing each iteration would be
  * safe but pays a blocking materialization per step; every third
  * bounds the un-truncated depth at 3 joins while trimming ~2/3 of
  * that overhead (A/B'd at sf0.1).
  *
  * Dangling nodes (no out-edges) simply leak their mass — the plain
  * power-iteration convention, applied identically by the SQL oracle;
  * nodes with no in-edges settle at (1−d)/N.
  */
object PageRank {

  /** edges: (src, dst, w) with long weights; returns (node, r). */
  def run(edges: DataFrame, d: Double = 0.85, iters: Int = 10,
          cacheKey: String = "pagerank"): DataFrame = {
    val nodes = edges.select(col("src").as("node"))
      .union(edges.select(col("dst").as("node"))).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val e = edges
      .join(edges.groupBy("src").agg(sum("w").as("outw")), "src")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    Caches.retain(cacheKey, nodes, e)
    val nN = nodes.count()
    var r = nodes.select(col("node"), lit(1.0 / nN).as("r")).localCheckpoint()
    for (i <- 1 to iters) {
      val contrib = e.join(r, e("src") === r("node"))
        .groupBy(e("dst").as("cnode"))
        .agg(Stats.dsum(col("r") * col("w").cast("double") /
          col("outw").cast("double")).as("s"))
      r = nodes.join(contrib, col("node") === col("cnode"), "left")
        .select(col("node"), (lit((1.0 - d) / nN) +
          lit(d) * coalesce(col("s"), lit(0.0))).as("r"))
      if (i % 3 == 0 || i == iters) r = r.localCheckpoint()
    }
    r
  }
}
