package graft.dedup

import graft.core.Caches
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sim.{KMeans, VectorMath => V}

/** SemDeDup — semantic deduplication (Abbas et al. 2023,
  * arXiv:2303.09540): k-means cluster the embedding space, then prune
  * cosine near-duplicates ONLY within clusters. All-pairs cosine dedup
  * is O(n²·d); clustering confines the quadratic work to cluster-sized
  * buckets, and [[capBuckets]] re-splits any cluster past a hard size
  * cap, pinning the pair stage at O(n·cap) — the same
  * bucket-confinement discipline as the MinHash/SimHash/LSH families
  * (reference capability analog: the embedding near-dup step a
  * pretraining corpus pipeline runs after exact/fuzzy text dedup).
  *
  * Determinism: centers come from the deterministic driver-pool
  * [[graft.sim.KMeans]] fit; assignment is a pure codegen'd HOF
  * arg-min over the broadcast centers literal (no UDF in the hot
  * path); the prune rule — drop a vector iff an in-cluster LOWER-ID
  * neighbor has cosine ≥ θ — makes the kept set a pure function of
  * (data, centers). Each cluster's pair join is a plain equi-join on
  * the cluster id; vectors shuffle once, carrying a precomputed
  * squared norm so the per-pair work is a single dot product.
  */
object SemDedup {

  /** The scale recipe for the cluster count: k = ⌈√n⌉ (clamped to
    * [4, 4096]) keeps cluster GRANULARITY tracking the corpus (bucket
    * sizes ~√n, so semantics stay exact while √n ≤ the [[capBuckets]]
    * cap). Since r14 the COST story no longer leans on k: the pair
    * stage is pinned linear by the bucket-size cap regardless of k,
    * and the remaining k-dependent terms are the n·k·d assignment
    * flops (codegen'd arithmetic, trivial against the join) and the
    * pool-bounded Lloyd fit ([[KMeans.fit]], ≤4096 rows regardless of
    * n). The 4096 ceiling is that fit bound — beyond it a real
    * deployment shards the fit and clusters per shard.
    */
  def kForCorpus(n: Long): Int =
    math.min(4096L, math.max(4L, math.ceil(math.sqrt(n.toDouble)).toLong))
      .toInt

  /** Cluster assignment with the dual-path audit column: `cluster` is
    * the codegen'd HOF arg-min (first minimal index, strict `<`);
    * `cluster_check` re-derives it through the broadcast-model scorer
    * ([[KMeans.Model.transform]]'s sequential-fold UDF). Both fold the
    * squared distance in identical IEEE order, so the two paths agree
    * bitwise — a divergence means a broken kernel, not noise.
    */
  def assign(df: DataFrame, idCol: String, vecCol: String,
             k: Int, iters: Int = 8): DataFrame = {
    val e = df.select(col(idCol).cast("long").as("id"),
      transform(col(vecCol), x => x.cast("double")).as("vec"))
    // fewer rows than k (including zero): the fit pool can't seed k
    // centers — clamp k to the row count, and with NO rows skip the
    // fit entirely (schema-preserving empty result; [[audit]] on an
    // empty frame must yield its aggregate row, not throw)
    val nProbe = e.limit(k).count().toInt
    if (nProbe == 0)
      return e.withColumn("cluster", lit(0))
        .withColumn("n2", lit(0.0))
        .withColumn("cluster_check", lit(0))
    val kEff = math.min(k, nProbe)
    val model = KMeans.fit(e, "id", "vec", k = kEff, iters = iters)
    // one nested-array Literal (typedlit), not k·d lit() nodes — keeps
    // plan size O(1) in the codebook (the q215 planning-cost lesson);
    // the per-center distance is the codegen'd SEQUENTIAL Σ(x−y)² fold
    // (SqDistExpr) — bitwise equal to the interpreted zip_with form it
    // replaced and to Model.assign's loop, 142×64 boxed lambda steps
    // per row cheaper at the 10× ScaleAb point
    val centersLit = typedlit(model.centers.map(_.toSeq).toSeq)
    val dists = transform(centersLit, ctr =>
      graft.sim.GraftFunctions.sqDist(col("vec"), ctr))
    model.transform(
      e.withColumn("dists", dists)
        .withColumn("cluster",
          element_at(filter(sequence(lit(0), lit(kEff - 1)),
            i => element_at(col("dists"), i + 1) === array_min(col("dists"))), 1))
        .drop("dists")
        .withColumn("n2", graft.sim.GraftFunctions.norm2(col("vec"))),
      "vec", "cluster_check")
  }

  /** Hard cap on effective bucket size (r13 verdict: the measured 10×
    * exponent of the UNCAPPED operator was 1.42 — the in-cluster pair
    * stage grows n²/k = n^1.5 under the √n recipe). Clusters larger
    * than `cap` are re-split BEFORE the pair join, pinning per-bucket
    * pair work at ~cap²·(size/cap) = size·cap, i.e. the whole pair
    * stage at O(n·cap) — linear. Two layers:
    *
    *  - level 1, SEMANTIC: ceil(log2(size/cap)) hyperplane sign bits
    *    ([[graft.sim.Ann.planeSigns]] — deterministic pseudo-random
    *    planes). Near-duplicates at θ≈0.95+ differ by ≤ ~18° so a
    *    plane separates a true pair with prob ≈ angle/π < 0.06/bit —
    *    unlike an id-hash split, which would lose 1−1/nsub of them;
    *  - level 2, HASH: sign buckets are data-dependent (a mass of
    *    EXACT duplicates shares every sign bit and would defeat level
    *    1), so any still-oversized (cluster, signs) bucket hash-splits
    *    by id to ceil(size/cap) cells. Exact-duplicate mass is the one
    *    case this drops pairs on — and exact dedup runs BEFORE
    *    semantic dedup in the pipeline, so those pairs are already
    *    found upstream.
    *
    * Clusters at or under `cap` (the common case while √n ≤ cap) pass
    * through untouched — semantics are EXACT there; the cap only binds
    * where all-pairs would blow up. Output: `cluster` rewritten to the
    * composite bucket id, so [[clusterPairs]] runs unchanged. Both
    * size computations are k-row aggregates joined back by broadcast —
    * no extra shuffle of the vectors.
    */
  def capBuckets(assigned: DataFrame, dim: Int, cap: Int = 64): DataFrame = {
    val nPlanes = 8 // level 1 splits a cluster up to 256-way
    val sizes = assigned.groupBy("cluster").agg(count(lit(1)).as("__csz"))
    val lvl1 = assigned.join(broadcast(sizes), Seq("cluster"))
      .withColumn("__b", least(lit(nPlanes),
        ceil(log(2.0, col("__csz").cast("double") / cap)).cast("int")))
      // one fold, each projection evaluated once (Ann.planePrefixBucket
      // scaladoc: a separate signs column inlines per bit). dim<=0
      // (zero-length vectors) has no planes to project — fall through
      // to the level-2 hash split, which caps sizes without dim.
      .withColumn("__sub1", if (dim <= 0) lit(0L)
      else when(col("__b") <= 0, lit(0L)).otherwise(
        graft.sim.Ann.planePrefixBucket(col("vec"), dim, col("__b"))))
      .drop("__csz", "__b")
    val sizes2 = lvl1.groupBy("cluster", "__sub1")
      .agg(count(lit(1)).as("__s2"))
    lvl1.join(broadcast(sizes2), Seq("cluster", "__sub1"))
      .withColumn("__sub2", pmod(xxhash64(col("id")),
        greatest(lit(1L), ceil(col("__s2") / lit(cap.toDouble)).cast("long"))))
      .withColumn("cluster",
        concat_ws("#", col("cluster"), col("__sub1"), col("__sub2")))
      .drop("__s2", "__sub1", "__sub2")
  }

  /** In-cluster lower-id near-neighbor pairs: (id, cos) for every
    * ordered pair (b < id) sharing a cluster. The equi-join on the
    * cluster id is the bucket-confined quadratic stage.
    */
  def clusterPairs(assigned: DataFrame): DataFrame = {
    val right = assigned.select(col("cluster"), col("id").as("b"),
      col("vec").as("vb"), col("n2").as("n2b"))
    assigned.select(col("cluster"), col("id"), col("vec"), col("n2"))
      .join(right, Seq("cluster"))
      .where(col("b") < col("id"))
      .select(col("id"), col("b"),
        V.cosineFromNorms(graft.sim.GraftFunctions.dot(col("vec"), col("vb")),
          col("n2"), col("n2b")).as("cos"))
  }

  /** Ids pruned by the θ rule (distinct ids having any lower-id
    * in-cluster neighbor with cosine ≥ θ). Kept set = complement.
    */
  def prunedIds(pairs: DataFrame, theta: Double): DataFrame =
    pairs.where(col("cos") >= theta).select("id").distinct()

  /** The registered single-row self-verifying audit (q198): exact SQL
    * anchors (n_vecs, k, dim) + invariant booleans the oracle pins
    * TRUE (`assign_ok` dual-path assignment agreement, `cos_bounded`
    * similarity validity, `pruned_frac_ok` prune-rate sanity).
    */
  def audit(df: DataFrame, idCol: String, vecCol: String,
            k: Int, theta: Double, cap: Int = 64): DataFrame = {
    val assigned = Caches.keep("dedup.semdedup", assign(df, idCol, vecCol, k))
    // headOption: an empty input frame must yield the aggregate row,
    // not throw from the dim probe. Distinguish "no rows" from
    // "first vector has dim 0": only a genuinely empty frame may
    // bypass capBuckets — a non-empty frame with zero-length vectors
    // must still cap oversized clusters (the in-cluster join is
    // quadratic per bucket).
    val probe = df.select(size(col(vecCol))).limit(1).collect().headOption
    val isEmpty = probe.isEmpty
    val dim = probe.map(_.getInt(0)).getOrElse(0)
    val pairs = Caches.keep("dedup.semdedup", clusterPairs(
      if (isEmpty) assigned else capBuckets(assigned, dim, cap)))
    val a1 = assigned.agg(count(lit(1)).as("n_vecs"),
      max(size(col("vec"))).cast("long").as("dim"),
      (count(when(col("cluster") === col("cluster_check"), 1)) ===
        count(lit(1))).as("assign_ok"))
    val a2 = pairs.agg(
      coalesce(min(abs(col("cos")) <= lit(1.0 + 1e-9)), lit(true)).as("cos_bounded"))
    val a3 = prunedIds(pairs, theta).agg(count(lit(1)).as("n_pruned"))
    a1.crossJoin(a2).crossJoin(a3)
      .select(col("n_vecs"), lit(k.toLong).as("k"), col("dim"),
        col("assign_ok"), col("cos_bounded"),
        (col("n_pruned") * 2 <= col("n_vecs")).as("pruned_frac_ok"))
  }
}
