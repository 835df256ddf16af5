package graft.sim

import graft.core.Caches
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Grid-blocked EXACT DBSCAN (Ester et al., KDD 1996) on integer 2-D
  * points — density clustering with a noise class, complementing
  * k-means (which force-assigns every point and only finds convex
  * blobs). Coordinates are integer centi-units so every distance
  * predicate is exact integer arithmetic — no floating-point
  * divergence class at all.
  *
  * Scale design — the textbook distributed-DBSCAN cell trick: bucket
  * points into a grid of cell size ≥ eps; then ALL eps-neighbor pairs
  * live in the same or Chebyshev-adjacent cells, so the 3×3
  * neighborhood equi-join is a COMPLETE candidate set (a guarantee
  * LSH-style blocking cannot give). Per-pair work is one integer
  * predicate; the quadratic term is confined to cell occupancy, and a
  * hot cell salts/splits like any skewed join key. Cluster formation
  * is connected components over core–core eps-edges
  * ([[graft.dedup.Components]] — iterative equi-joins), border points
  * attach to their minimum-id adjacent core component (the textbook
  * leaves border assignment order-dependent; pinning min makes both
  * engines and every run agree).
  */
object Dbscan {

  /** Labels each point: (id, x, y, role ∈ core|border|noise, cluster —
    * component id for core/border, null for noise). `epsCenti` is the
    * eps radius in the integer coordinate unit; `minPts` counts the
    * point itself (the textbook convention).
    */
  def cluster(df: DataFrame, idCol: String, xCol: String, yCol: String,
              epsCenti: Long, minPts: Int): DataFrame = {
    val eps2 = epsCenti * epsCenti
    val pts = Caches.keep("dbscan.pts", df.select(col(idCol).cast("long").as("id"),
        col(xCol).cast("long").as("x"), col(yCol).cast("long").as("y"))
      .withColumn("cx", expr(s"x div $epsCenti"))
      .withColumn("cy", expr(s"y div $epsCenti")))
    // each point probes its 3x3 cell neighborhood: every ordered
    // eps-pair is found exactly once (via the offset aiming at the
    // neighbor's cell) -- completeness is geometric, not probabilistic
    val offsets = Seq(-1L, 0L, 1L)
      .flatMap(dx => Seq(-1L, 0L, 1L).map(dy => (dx, dy)))
    val probe = pts.withColumn("off",
        explode(typedLit(offsets)))
      .select(col("id").as("a"), col("x").as("xa"), col("y").as("ya"),
        (col("cx") + col("off._1")).as("kcx"),
        (col("cy") + col("off._2")).as("kcy"))
    val nbr = Caches.keep("dbscan.nbr", probe.join(
        pts.select(col("id").as("b"), col("x").as("xb"),
          col("y").as("yb"), col("cx").as("kcx"), col("cy").as("kcy")),
        Seq("kcx", "kcy"))
      .where(col("a") =!= col("b") &&
        (col("xa") - col("xb")) * (col("xa") - col("xb")) +
        (col("ya") - col("yb")) * (col("ya") - col("yb")) <= eps2)
      .select(col("a"), col("b")))
    val counts = nbr.groupBy("a").agg(count(lit(1)).as("n_nbr"))
    val roles = Caches.keep("dbscan.roles", pts.select(col("id"))
      .join(counts.withColumnRenamed("a", "id"), Seq("id"), "left")
      .withColumn("n_in_eps", coalesce(col("n_nbr"), lit(0L)) + 1) // + self
      .withColumn("is_core", col("n_in_eps") >= minPts))
    val coreIds = roles.where(col("is_core")).select(col("id"))
    val coreEdges = nbr
      .join(coreIds.withColumnRenamed("id", "a"), "a")
      .join(coreIds.withColumnRenamed("id", "b"), "b")
      .where(col("a") < col("b"))
    val comp = graft.dedup.Components
      .connectedComponents(coreEdges, "a", "b")
    val coreLabeled = coreIds
      .join(comp.withColumnRenamed("id", "id"), Seq("id"), "left")
      .withColumn("cluster", coalesce(col("component"), col("id")))
      .select(col("id"), col("cluster"))
    // border: non-core with >= 1 core eps-neighbor -> min adjacent
    // core component (deterministic assignment)
    val borderLabeled = nbr
      .join(roles.where(!col("is_core")).select(col("id").as("a")), "a")
      .join(coreLabeled.select(col("id").as("b"), col("cluster")), "b")
      .groupBy(col("a").as("id")).agg(min("cluster").as("cluster"))
    pts.select(col("id"), col("x"), col("y"))
      .join(coreLabeled.withColumnRenamed("cluster", "c_core"), Seq("id"), "left")
      .join(borderLabeled.withColumnRenamed("cluster", "c_border"), Seq("id"), "left")
      .withColumn("role",
        when(col("c_core").isNotNull, lit("core"))
          .when(col("c_border").isNotNull, lit("border"))
          .otherwise(lit("noise")))
      .withColumn("cluster", coalesce(col("c_core"), col("c_border")))
      .select(col("id"), col("x"), col("y"), col("role"), col("cluster"))
  }
}
